"""Collection lifecycle + the reference's own end-to-end example (F-Q1,
/root/reference/main.go:29-52) + ingest invariants (F-Q5)."""

from __future__ import annotations

import pytest

from kaer_spark.context import (
    CollectionNotFound,
    FieldLengthMismatch,
    KaerContext,
    dense_ids,
)


@pytest.fixture()
def ctx(spark, tmp_path):
    return KaerContext(spark, str(tmp_path / "kaer"))


def test_fq1_reference_example(ctx):
    """create "test" → insert 2 docs → query("h, world", 1, {attr1:{$eq:1}})
    → exactly the attr1=1 "hello world" row (filter admits one candidate, so
    top-1 is embedding-independent)."""
    coll = ctx.create_collection("test")
    coll.insert(
        ["hello world", "nihao, shijie"],
        [{"attr1": 1, "attr2": "str1"}, {"attr1": 200, "attr2": "str2"}],
    )
    rows = coll.query("h, world", k=1, filter={"attr1": {"$eq": 1}}).collect()
    assert len(rows) == 1
    assert rows[0]["_m_doc"] == "hello world"
    assert rows[0]["attr1"] == 1


def test_ddl_lifecycle(ctx):
    ctx.create_collection("c1")
    assert ctx.list_collections() == ["c1"]
    with pytest.raises(ValueError):
        ctx.create_collection("c1")
    assert ctx.get_collection("c1") is not None
    ctx.drop_collection("c1")
    assert ctx.list_collections() == []
    with pytest.raises(CollectionNotFound):
        ctx.get_collection("c1")
    with pytest.raises(CollectionNotFound):
        ctx.drop_collection("c1")


def test_insert_validation(ctx):
    coll = ctx.create_collection("v")
    with pytest.raises(FieldLengthMismatch):
        coll.insert(["a", "b"], [{"x": 1}])


def test_fq5_ingest_invariants(ctx, spark):
    """Dense strictly-increasing ids across sequential inserts; counts
    survive re-open in a fresh context (the intent of the reference's
    id-recovery path db/db.go:145-174, with its min/max bug fixed)."""
    coll = ctx.create_collection("inv")
    coll.insert([f"doc {i} alpha beta" for i in range(7)], [{"b": 0}] * 7)
    coll.insert([f"doc {i} gamma delta" for i in range(5)], [{"b": 1}] * 5)
    ids = sorted(r[0] for r in coll.df().select("_m_id").collect())
    assert ids == list(range(12))
    b1 = {r[0] for r in coll.df().filter("b = 1").select("_m_id").collect()}
    assert b1 == set(range(7, 12))  # second batch strictly after the first

    reopened = KaerContext(spark, ctx.root).get_collection("inv")
    assert reopened.count() == 12
    assert reopened.meta["next_id"] == 12
    reopened.insert(["late arrival"], [{"b": 2}])
    ids2 = sorted(r[0] for r in reopened.df().select("_m_id").collect())
    assert ids2 == list(range(13))


def test_fq3_edge_cases(ctx):
    coll = ctx.create_collection("edge")
    coll.insert(["a b c", "d e f", "g h i"], [{"n": i} for i in range(3)])
    # filter matches zero rows → empty, no error (db/db.go:113-141 returns nil)
    assert coll.query("a", k=5, filter={"n": {"$gt": 99}}).count() == 0
    # k > matching rows → all matches
    assert coll.query("a", k=100, filter={"n": {"$lte": 1}}).count() == 2
    # k = 0 → empty
    assert coll.query("a", k=0).count() == 0


def test_dense_ids_with_order(spark):
    df = spark.range(100).selectExpr("id * 37 % 101 AS key")
    out = dense_ids(df, start=10, order_col="key")
    rows = out.orderBy("key").collect()
    assert [r["_m_id"] for r in rows] == list(range(10, 110))
    # ids follow the requested order
    assert rows == sorted(rows, key=lambda r: r["_m_id"])


def test_dense_ids_large_multipartition_no_collisions(spark):
    """Allocator correctness across jobs: the offset-collect and the
    numbering action both execute the repartitionByRange plan; without the
    checkpoint in dense_ids, per-job boundary re-sampling can migrate rows
    between partitions → duplicate/gapped ids. A many-partition batch with
    a high-cardinality order column exercises exactly that path, and the
    result must be a perfect permutation-free dense range no matter how
    many times the output is re-executed."""
    n = 200_000
    df = (
        spark.range(n)
        .repartition(32)
        .selectExpr("id", "CAST(hash(id) AS BIGINT) AS key")
    )
    out = dense_ids(df, start=0, order_col="key")
    # execute the numbering job twice: both runs must agree exactly
    for _ in range(2):
        ids = [r["_m_id"] for r in out.select("_m_id").collect()]
        assert len(ids) == n
        assert len(set(ids)) == n, "duplicate _m_id assigned"
        assert min(ids) == 0 and max(ids) == n - 1, "gapped _m_id range"
    # ids follow the key order globally
    sample = out.orderBy("key").limit(1000).collect()
    assert [r["_m_id"] for r in sample] == sorted(r["_m_id"] for r in sample)


def _window_dense_ids(df, start, order_col):
    """Dense ids numbered by ``row_number()`` over the checkpoint's
    partitions, with the partition offsets of ``dense_ids_with_count``:
    the reference numbering its ``monotonically_increasing_id()``
    positions must reproduce."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if order_col is not None:
        df = df.repartitionByRange(F.col(order_col)).sortWithinPartitions(order_col)
    tagged = df.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    counts = dict(tagged.groupBy("_pid").count().collect())
    offsets, acc = [], start
    for pid in sorted(counts):
        offsets += [F.lit(pid), F.lit(acc)]
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(
        order_col or F.monotonically_increasing_id()
    )
    return tagged.withColumn(
        "_m_id",
        (F.row_number().over(w) - 1 + F.create_map(*offsets)[F.col("_pid")]).cast(
            "long"
        ),
    ).drop("_pid")


@pytest.mark.parametrize("order_col", [None, "key"])
def test_dense_ids_match_the_window_numbering(spark, order_col):
    """The ids ``dense_ids_with_count`` reads from each row's position in
    its checkpointed partition equal the window numbering's, on a
    five-partition input, with and without ``order_col`` (whose values
    tie: 5,000 rows over 613 keys), and the plan numbers them with no
    window and no exchange after the checkpoint."""
    from kaer_spark.context import dense_ids_with_count

    df = spark.range(0, 5000, 1, 5).selectExpr("id AS payload", "id * 7919 % 613 AS key")
    # keep every range partition: AQE would coalesce 5,000 rows into one
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        out, n = dense_ids_with_count(df, start=10, order_col=order_col)
        want = _window_dense_ids(df, 10, order_col)
        got = dict(out.select("payload", "_m_id").collect())
        assert got == dict(want.select("payload", "_m_id").collect())
    finally:
        spark.conf.set(coalesce, prev)
    assert n == 5000 and sorted(got.values()) == list(range(10, 5010))
    assert out.rdd.getNumPartitions() > 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan


def test_df_reads_by_catalog_schema_without_a_job(ctx, spark):
    """``Collection.df()`` reads under the catalog schema: the first read
    after an insert that adds a field fires no job, and the field reads
    as NULL on the older rows."""
    from pyspark.sql import functions as F

    from tests.conftest import jobs_fired

    coll = ctx.create_collection("catalogued")
    coll.insert(["first doc", "second doc"], [{"k": 1}, {"k": 2}])
    coll.insert(["third doc"], [{"k": 3, "added": "x"}])
    with jobs_fired(spark) as fired:
        df = coll.df()
    assert fired == []
    rows = {r["k"]: r["added"] for r in df.select("k", "added").collect()}
    assert rows == {1: None, 2: None, 3: "x"}
    assert df.filter(F.col("added").isNull()).count() == 2


def test_empty_frames_plan_as_local_scans(ctx, spark, tmp_path, monkeypatch):
    """The empty typed collection and the epoch compactor's zero-row
    tombstone are built by ``util.local_frame``: each plans as a
    ``LocalTableScan`` with no ``PythonRDD`` under it."""
    from kaer_spark.streaming import ingest

    def local_scan(df):
        qe = df._jdf.queryExecution()
        assert qe.executedPlan().nodeName() == "LocalTableScan"
        assert "PythonRDD" not in qe.toRdd().toDebugString()

    coll = ctx.create_collection("emptied")
    coll.insert(["only doc"], [{"k": 1}])
    assert coll.delete({"k": 1}) == 1
    empty = coll.df()
    assert empty.count() == 0 and "k" in empty.columns
    local_scan(empty)

    built = []
    make = ingest.local_frame

    def spy(spark_, rows, schema):
        built.append(make(spark_, rows, schema))
        return built[-1]

    monkeypatch.setattr(ingest, "local_frame", spy)
    out = str(tmp_path / "corpus")
    for e, rows in {0: [(1, "a")], 1: [(2, "b")], 2: [(3, "c")], 3: [(4, "d")]}.items():
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            f"{out}/epoch={e}"
        )
    assert ingest.compact_ingest_epochs(spark, out, target_bytes=1 << 30)["compacted"] == 3
    (tomb,) = built
    local_scan(tomb)
    assert spark.read.parquet(f"{out}/epoch=0").count() == 0


def test_insert_schema_evolution_merges(spark, tmp_path):
    """New metadata fields in later inserts must MERGE (older rows read
    NULL), never silently drop earlier columns."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    c = ctx.create_collection("evolve")
    c.insert(["first"], [{"x": 1}])
    c.insert(["second"], [{"y": "s"}])
    rows = {r["_m_doc"]: r for r in c.df().collect()}
    assert set(c.df().columns) >= {"_m_doc", "_m_id", "_m_embedding", "x", "y"}
    assert rows["first"]["x"] == 1 and rows["first"]["y"] is None
    assert rows["second"]["x"] is None and rows["second"]["y"] == "s"
    # reopened collection sees the merged schema too
    c2 = KaerContext(spark, str(tmp_path / "kaer")).get_collection("evolve")
    assert set(c2.df().columns) == set(c.df().columns)


def test_insert_type_conflict_rejected(spark, tmp_path):
    import pytest

    from kaer_spark.context import FieldTypeConflict, KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    c = ctx.create_collection("conflict")
    c.insert(["first"], [{"x": 1}])
    with pytest.raises(FieldTypeConflict, match="x"):
        c.insert(["second"], [{"x": "now a string"}])
    # nothing was written by the failed insert
    assert c.count() == 1


def test_empty_insert_is_noop(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    c = ctx.create_collection("empty")
    first = c.insert(["only doc"], [{"x": 1}])
    assert c.insert([], []) == first + 1  # returns next id, writes nothing
    assert c.count() == 1


def test_config_parses_reference_style_toml(spark, tmp_path):
    """A reference config file (config/config.go sections) parses
    unchanged; server-only knobs are ignored."""
    from kaer_spark.config import context_from_config, parse_config

    cfg_file = tmp_path / "kaer.toml"
    cfg_file.write_text(
        """
[cohere]
api_key = ""
model = "multilingual-22-12"

[db]
persist_dir = "%s"
postgres_username = "postgres"
postgres_port = 5432
ferretdb_tcp = "localhost:8080"

[hnsw]
m = 8
ef_construction = 400
"""
        % (tmp_path / "warehouse")
    )
    cfg = parse_config(str(cfg_file))
    assert cfg.persist_dir.endswith("warehouse")
    assert cfg.dim == 768  # model map, config/config.go:59
    assert cfg.index_cells == 8  # [hnsw] m honored as the index knob
    assert not cfg.uses_http_provider

    ctx = context_from_config(spark, cfg)
    c = ctx.create_collection("from_cfg")
    c.insert(["hello world"], [{"a": 1}])
    assert c.query("hello", k=1).count() == 1
    assert len(c.df().collect()[0]["_m_embedding"]) == 768


def test_delete_by_filter(spark, tmp_path):
    """Filter-delete: matching rows gone, surviving ids UNCHANGED (holes
    allowed), next_id does not regress, reopen sees the same state."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("d")
    coll.insert(
        [f"doc {i}" for i in range(10)],
        [{"grp": "a" if i % 2 == 0 else "b", "rank": i} for i in range(10)],
    )
    removed = coll.delete({"grp": "a", "rank": {"$lt": 7}})
    assert removed == 4  # ranks 0,2,4,6
    left = sorted(r["_m_id"] for r in coll.df().select("_m_id").collect())
    assert left == [1, 3, 5, 7, 8, 9]  # survivors keep their ids
    assert coll.meta["next_id"] == 10  # allocator never regresses
    nxt = coll.insert(["doc 10"], [{"grp": "c", "rank": 10}])
    assert nxt == 10
    # reopen: state persisted
    c2 = KaerContext(spark, str(tmp_path / "kaer")).get_collection("d")
    assert c2.count() == 7
    assert c2.delete({"grp": {"$in": ["a", "b", "c"]}}) == 7
    assert c2.count() == 0


def test_delete_rebuilds_index(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("di")
    coll.insert([f"doc number {i}" for i in range(30)], [{"k": i} for i in range(30)])
    coll.build_index(cells=4)
    coll.delete({"k": {"$gte": 20}})
    # approximate search must not surface deleted ids
    hits = coll.query("doc number 5", k=30, approximate=True, nprobe=4).collect()
    ids = {r["_m_id"] for r in hits}
    assert ids and all(i < 20 for i in ids)


def test_delete_schemaless_filter(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("ds", schemaless=True)
    coll.insert(
        ["a", "b", "c"],
        [{"keep": True}, {"keep": False}, {}],  # ragged: key missing on c
    )
    # {keep: {$ne: true}} matches false AND missing — Mongo semantics
    assert coll.delete({"keep": {"$ne": True}}) == 2
    assert [r["_m_id"] for r in coll.df().collect()] == [0]


def test_compact_preserves_rows_ids_and_index(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("cp")
    # 6 small insert batches -> many tiny files
    for b in range(6):
        coll.insert(
            [f"doc {b} {i}" for i in range(5)], [{"b": b}] * 5
        )
    coll.build_index(cells=3)
    before_files = coll.data_files()
    assert len(before_files) > 2
    before = sorted(
        (r["_m_id"], r["_m_doc"]) for r in coll.df().collect()
    )

    n = coll.compact(target_files=2)
    assert n == 2 and len(coll.data_files()) == 2
    after = sorted((r["_m_id"], r["_m_doc"]) for r in coll.df().collect())
    assert after == before  # same rows, same ids
    # index still valid (addresses ids, not files); approximate query works
    assert coll.query("doc 3 1", k=5, approximate=True, nprobe=3).count() == 5
    # inserts keep working post-swap and the allocator never regressed
    coll.insert(["late doc"], [{"b": 99}])
    assert coll.count() == 31

    # default sizing: tiny collection -> 1 file target; no-op when already compact
    coll2 = ctx.create_collection("cp2")
    coll2.insert(["a"], [{}])
    assert coll2.compact() == 1
    assert coll2.compact(target_files=50) == 1  # never explodes files


def test_compact_empty_collection_noop(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer2"))
    coll = ctx.create_collection("empty")
    assert coll.compact() == 0


def test_ingest_job_budget(spark, tmp_path):
    """Insert and delete each run a bounded number of Spark jobs — the
    batch total must ride existing jobs (dense-id partition counts for
    insert, an Observation on the rewrite for delete), never a separate
    full-scan count(). Budget measured after the r6 fix: insert = 5
    (checkpoint, partition-count collect, embed+write, plus two Spark
    bookkeeping jobs), delete = 5 (rewrite write + committed re-read).
    A regression that reintroduces a per-batch count() pushes either
    number up and fails this test."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer_jobs"))
    coll = ctx.create_collection("jb")
    coll.insert(["warm up"], [{}])  # warm lazy session paths
    tracker = spark.sparkContext.statusTracker()

    before = len(tracker.getJobIdsForGroup(None))
    coll.insert(["a", "b", "c"], [{"x": 1}] * 3)
    assert len(tracker.getJobIdsForGroup(None)) - before <= 5

    before = len(tracker.getJobIdsForGroup(None))
    assert coll.delete({"x": 1}) == 3
    assert len(tracker.getJobIdsForGroup(None)) - before <= 5
    assert coll.count() == 1  # the warm-up row survived


def test_minhash_catch_up_signs_in_one_round(spark, tmp_path, monkeypatch):
    """An insert into a MinHash-indexed collection signs its three-row
    catch-up tail in one Python-worker round: the collection's estimate
    is far below one round's bytes (``util._ROUND_BYTES``), so its
    signature stage runs one task instead of one per core."""
    import kaer_spark.operators.dedup as D
    from kaer_spark.context import KaerContext

    from tests.conftest import tasks_fired

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("mh_rounds")
    coll.insert([f"warm document {i} about spark stages" for i in range(8)])
    coll.build_minhash_index(n=3, num_hashes=4, bands=2)
    signed = []
    sign = D.minhash_signatures

    def recording(*args, **kwargs):
        signed.append(sign(*args, **kwargs))
        return signed[-1]

    monkeypatch.setattr(D, "minhash_signatures", recording)
    coll.insert(["one new text", "another new text", "a third new text"])
    assert len(signed) == 1
    with tasks_fired(spark) as tasks:
        signed[0].select("id", "sig").write.format("noop").mode("overwrite").save()
    assert tasks == [1]


def test_query_batch_exact_and_approximate(spark, tmp_path):
    """Batch retrieval parity: exact mode ranks like per-query query();
    approximate mode joins the IVF index with the metadata filter applied
    to the corpus side (filtered batch ANN)."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("qb")
    col = ctx.get_collection("qb")
    col.insert(
        [f"document number {i} about topic {i % 3}" for i in range(18)],
        [{"grp": i % 2} for i in range(18)],
    )
    queries = col.df().limit(4).select(
        F.col("_m_id").alias("query_id"), F.col("_m_embedding").alias("embedding")
    )
    exact = col.query_batch(queries, k=3)
    rows = exact.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3}
    assert all(1 <= r["rank"] <= 3 for r in rows)
    # rank-1 neighbor of a corpus vector is itself (distance 0, min id tie)
    self_hits = {r["query_id"]: r["_m_id"] for r in rows if r["rank"] == 1}
    assert all(q == d for q, d in self_hits.items())
    # filtered: every returned doc satisfies the predicate
    filt = col.query_batch(queries, k=3, filter={"grp": 0}).alias("r")
    joined = filt.join(col.df().select("_m_id", "grp"), "_m_id").collect()
    assert joined and all(r["grp"] == 0 for r in joined)

    col.build_index(cells=3, fit="spread")
    approx = col.query_batch(queries, k=3, approximate=True, nprobe=3)
    # full probe (nprobe == cells) must equal the exact join
    assert {(r["query_id"], r["_m_id"], r["rank"]) for r in approx.collect()} == {
        (r["query_id"], r["_m_id"], r["rank"]) for r in rows
    }
    filt_a = col.query_batch(
        queries, k=3, filter={"grp": 0}, approximate=True, nprobe=3
    )
    joined_a = filt_a.join(col.df().select("_m_id", "grp"), "_m_id").collect()
    assert joined_a and all(r["grp"] == 0 for r in joined_a)


def test_near_duplicates_and_deduplicate(spark, tmp_path):
    """Collection-level corpus hygiene: near_duplicates surfaces stored-
    embedding cosine pairs; deduplicate removes all but the min-id member
    of each duplicate cluster, keeps the index consistent, and is
    idempotent."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("hyg")
    col = ctx.get_collection("hyg")
    texts = [
        "alpha beta gamma", "alpha beta gamma",        # 0 ≡ 1
        "delta epsilon zeta", "delta epsilon zeta",    # 2 ≡ 3
        "unique content one", "unique content two",
        "alpha beta gamma",                            # 6 ≡ 0,1
    ]
    col.insert(texts)
    col.build_index(cells=2, fit="spread")

    pairs = {
        (r["id_a"], r["id_b"])
        for r in col.near_duplicates(threshold=0.999).collect()
    }
    assert {(0, 1), (0, 6), (1, 6), (2, 3)} <= pairs

    removed = col.deduplicate(threshold=0.999)
    assert removed == 3  # 1, 6 (cluster of 0) and 3 (cluster of 2)
    kept = sorted(r["_m_id"] for r in col.df().select("_m_id").collect())
    assert kept == [0, 2, 4, 5]
    assert col.meta["next_id"] == 7  # allocator never regresses
    # index rebuilt over the survivors
    from kaer_spark.operators.index_store import read_index_meta

    assert read_index_meta(col.index_path)["max_id"] == 5
    assert col.query("alpha beta gamma", k=4, approximate=True, nprobe=2).count() == 4
    # idempotent: nothing left to remove
    assert col.deduplicate(threshold=0.999) == 0


def test_query_batch_schemaless_filter(spark, tmp_path):
    """Batch retrieval over a schemaless collection routes the filter
    through the VARIANT compiler — ragged metadata keys work in both exact
    and indexed mode."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("qbs", schemaless=True)
    col = ctx.get_collection("qbs")
    col.insert(
        [f"text number {i}" for i in range(12)],
        [{"tag": "a", "extra": i} if i % 2 else {"tag": "b"} for i in range(12)],
    )
    queries = col.df().limit(3).select(
        F.col("_m_id").alias("query_id"), F.col("_m_embedding").alias("embedding")
    )
    got = col.query_batch(queries, k=4, filter={"tag": "a"})
    ids = {r["_m_id"] for r in got.collect()}
    assert ids and all(i % 2 == 1 for i in ids)  # only tag:"a" docs
    missing = col.query_batch(queries, k=4, filter={"extra": {"$exists": True}})
    assert {r["_m_id"] for r in missing.collect()} == ids
    col.build_index(cells=2, fit="spread")
    approx = col.query_batch(queries, k=4, filter={"tag": "a"},
                             approximate=True, nprobe=2)
    assert {r["_m_id"] for r in approx.collect()} <= ids


def test_collection_stats(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("st")
    col = ctx.get_collection("st")
    s0 = col.stats()
    assert s0["n_docs"] == 0 and not s0["has_index"] and s0["next_id"] == 0
    col.insert([f"doc {i}" for i in range(6)])
    col.build_index(cells=2, fit="spread")
    s = col.stats()
    assert s["name"] == "st" and s["n_docs"] == 6 and s["next_id"] == 6
    assert s["embedding_dim"] == 64
    assert s["has_index"] and s["index"] == {"cells": 2, "fit": "spread", "max_id": 5}


def test_deduplicate_against_both_methods(spark, tmp_path):
    """Cross-corpus hygiene through the user API: deduplicate_against
    removes exactly the documents the operator-level cross-corpus pair
    functions match on the same split — for both the lexical (minhash)
    and semantic (embedding) paths — and is idempotent."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext
    from kaer_spark.operators.dedup import minhash_near_dups_between

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("ref")
    ctx.create_collection("crawl")
    ref, crawl = ctx.get_collection("ref"), ctx.get_collection("crawl")
    ref.insert([
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
    ])
    crawl.insert([
        "the quick brown fox jumps over the lazy dog",   # verbatim dup of ref
        "a completely novel document about spark plans",
        "pack my box with five dozen liquor jugs today",  # near-dup of ref
        "another novel document that must survive",
    ])

    expected_drop = {
        r["left_id"]
        for r in minhash_near_dups_between(
            crawl.df(), ref.df(), left_id_col="_m_id", right_id_col="_m_id",
            text_col="_m_doc", threshold=0.5,
        ).collect()
    }
    assert expected_drop == {0, 2}

    removed = crawl.deduplicate_against(ref, method="minhash", threshold=0.5)
    assert removed == len(expected_drop) == 2
    kept = sorted(r["_m_id"] for r in crawl.df().select("_m_id").collect())
    assert kept == [1, 3]
    # idempotent
    assert crawl.deduplicate_against(ref, method="minhash", threshold=0.5) == 0

    # embedding path: rebuild a crawl with a semantic twin (the hashing
    # embedder maps shared-token bags to nearby vectors; a verbatim copy is
    # cosine-1.0) and drop it against ref
    ctx.create_collection("crawl2")
    crawl2 = ctx.get_collection("crawl2")
    crawl2.insert([
        "pack my box with five dozen liquor jugs",  # cosine 1.0 vs ref doc 1
        "entirely unrelated text body",
    ])
    removed2 = crawl2.deduplicate_against(ref, method="embedding", threshold=0.999)
    assert removed2 == 1
    assert [r["_m_id"] for r in crawl2.df().select("_m_id").collect()] == [1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="method"):
        crawl2.deduplicate_against(ref, method="simhash")


def test_deduplicate_keep_best(spark, tmp_path):
    """Quality-aware collection dedup: method='keep_best' keeps the
    highest-scoring member of each near-dup cluster (ties to min id)
    instead of the min id, reachable without operator-level imports."""
    import pytest

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("kb")
    col = ctx.get_collection("kb")
    texts = [
        "alpha beta gamma", "alpha beta gamma",        # 0 ≡ 1
        "delta epsilon zeta", "delta epsilon zeta",    # 2 ≡ 3
        "unique content one",
        "alpha beta gamma",                            # 5 ≡ 0,1
    ]
    scores = [1.0, 5.0, 7.0, 2.0, 0.0, 5.0]
    col.insert(texts, [{"score": s} for s in scores])

    with pytest.raises(ValueError):
        col.deduplicate(method="keep_best")  # score_col required
    with pytest.raises(ValueError):
        col.deduplicate(method="median_id")

    removed = col.deduplicate(
        threshold=0.999, method="keep_best", score_col="score"
    )
    # cluster {0,1,5}: scores 1,5,5 → tie at 5 → min id 1 kept
    # cluster {2,3}: 7 beats 2 → id 2 kept (also min id, but by score)
    assert removed == 3
    kept = sorted(r["_m_id"] for r in col.df().select("_m_id").collect())
    assert kept == [1, 2, 4]
    assert col.deduplicate(
        threshold=0.999, method="keep_best", score_col="score"
    ) == 0


def test_remove_boilerplate_rewrites_and_reembeds(spark, tmp_path):
    """Collection-level CCNet cleanup: shared lines are stripped in
    place, changed docs are re-embedded (vector search finds the cleaned
    text), unchanged docs keep their rows, and the call is idempotent."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("bp")
    col = ctx.get_collection("bp")
    banner = "ACCEPT COOKIES TO CONTINUE"
    texts = [
        banner + "\nalpha document body",
        banner + "\nbeta document body",
        "gamma clean document",
    ]
    col.insert(texts)
    col.build_index(cells=2, fit="spread")

    changed = col.remove_boilerplate(min_docs=2)
    assert changed == 2
    stored = {r["_m_id"]: r["_m_doc"] for r in col.df().collect()}
    assert stored[0] == "alpha document body"
    assert stored[1] == "beta document body"
    assert stored[2] == "gamma clean document"
    assert col.count() == 3 and col.meta["next_id"] == 3
    # embeddings re-computed: the cleaned text is its own nearest match
    top = col.query("alpha document body", k=1).collect()
    assert top[0]["_m_id"] == 0
    # the stored embedding equals a fresh embed of the CLEANED text
    from kaer_spark.embeddings import HashingEmbedder

    want = HashingEmbedder().embed(["alpha document body"])[0]
    got = [r for r in col.df().collect() if r["_m_id"] == 0][0]["_m_embedding"]
    assert [round(float(x), 5) for x in got] == [round(float(x), 5) for x in want]
    # idempotent: nothing shared remains
    assert col.remove_boilerplate(min_docs=2) == 0


def test_remove_boilerplate_null_doc_survives(spark, tmp_path):
    """A NULL stored document must land in exactly one rewrite branch
    (null-safe comparison) — before the r10 fix both != and == evaluated
    NULL and the row was silently deleted by the rewrite."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    col = ctx.create_collection("nulls")
    banner = "SHARED BANNER LINE"
    df = spark.createDataFrame(
        [
            (banner + "\nalpha body",),
            (banner + "\nbeta body",),
            (None,),
        ],
        "_m_doc string",
    )
    col.insert_df(df)
    assert col.count() == 3
    col.remove_boilerplate(min_docs=2)
    rows = {r["_m_id"]: r["_m_doc"] for r in col.df().collect()}
    # all three rows survive; the banner is stripped from the two docs
    assert len(rows) == 3
    assert rows[0] == "alpha body" and rows[1] == "beta body"
    # the NULL doc is still present (normalized by the line rebuild)
    assert rows[2] in (None, "")


def test_query_hybrid_fuses_lexical_and_vector(spark, tmp_path):
    """Hybrid collection retrieval: a doc that matches the query both
    lexically and semantically outranks docs strong on one side only;
    filters restrict both pools; empty query rejected."""
    import pytest

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("hy")
    col = ctx.get_collection("hy")
    texts = [
        "spark shuffle tuning guide",        # 0: lexical+vector match
        "spark shuffle internals",           # 1: close too
        "cooking pasta at home tonight",     # 2: unrelated
        "gardening tips for spring",         # 3: unrelated
    ]
    col.insert(texts, [{"grp": "a"}, {"grp": "a"}, {"grp": "b"}, {"grp": "b"}])

    out = col.query_hybrid("spark shuffle tuning guide", k=3).collect()
    assert out[0]["_m_id"] == 0
    assert out[0]["rank_0"] == 1 and out[0]["rank_1"] == 1  # top of both
    assert out[0]["rrf"] == 2 * (1.0 / 61.0)
    ids = [r["_m_id"] for r in out]
    assert 1 in ids  # near-match present

    # filter restricts both candidate pools
    only_b = col.query_hybrid(
        "spark shuffle tuning guide", k=4, filter={"grp": {"$eq": "b"}}
    ).collect()
    assert {r["_m_id"] for r in only_b} <= {2, 3}

    with pytest.raises(ValueError):
        col.query_hybrid("   ")


def test_deduplicate_semantic(spark, tmp_path):
    """SemDeDup through the user API: identical texts (identical stored
    embeddings) collapse, the survivor chosen by the farthest-from-
    centroid policy; unique docs all survive; idempotent."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    ctx.create_collection("sem")
    col = ctx.get_collection("sem")
    texts = [
        "alpha beta gamma", "alpha beta gamma", "alpha beta gamma",  # 0,1,2
        "delta epsilon zeta",
        "unique content entirely different",
    ]
    col.insert(texts)
    removed = col.deduplicate(method="semantic", threshold=0.999, cells=2)
    assert removed == 2  # the identical trio keeps exactly one member
    kept_docs = sorted(
        (r["_m_id"], r["_m_doc"]) for r in col.df().collect()
    )
    assert len(kept_docs) == 3
    assert sum(d == "alpha beta gamma" for _, d in kept_docs) == 1
    assert col.deduplicate(method="semantic", threshold=0.999, cells=2) == 0
    # cells larger than the collection clamp instead of raising
    assert col.deduplicate(method="semantic", threshold=0.999, cells=99) == 0


def test_compact_and_export_import_roundtrip(spark, tmp_path):
    """Operational trio: compact collapses the many-files layout from
    repeated inserts without changing values; export -> import restores a
    working collection (rows, filters, vector query, allocator cursor) in
    a different context."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    col = ctx.create_collection("ops")
    for i in range(4):  # 4 separate inserts → many small files
        col.insert([f"document number {i} alpha", f"document number {i} beta"],
                   [{"grp": "x"}, {"grp": "y"}])
    import os as _os

    files_before = sum(
        1 for f in _os.listdir(col.data_path) if f.endswith(".parquet")
    )
    rows_before = sorted(
        (r["_m_id"], r["_m_doc"]) for r in col.df().collect()
    )
    assert files_before > 2
    reported = col.compact(target_files=2)
    files_after = sum(
        1 for f in _os.listdir(col.data_path) if f.endswith(".parquet")
    )
    assert reported == files_after <= 2
    assert sorted((r["_m_id"], r["_m_doc"]) for r in col.df().collect()) == rows_before
    assert col.meta["next_id"] == 8

    snap = col.export_to(str(tmp_path / "snap"))
    ctx2 = KaerContext(spark, str(tmp_path / "kaer2"))
    col2 = ctx2.import_collection("restored", snap)
    assert sorted((r["_m_id"], r["_m_doc"]) for r in col2.df().collect()) == rows_before
    assert col2.meta["next_id"] == 8  # allocator carries over
    got = col2.query("document number 2 alpha", k=1,
                     filter={"grp": {"$eq": "x"}}).collect()
    assert got[0]["_m_doc"] == "document number 2 alpha"
    col2.insert(["post restore doc"])
    assert col2.meta["next_id"] == 9  # ids continue, never reused
    with __import__("pytest").raises(ValueError):
        ctx2.import_collection("restored", snap)


def test_export_empty_collection(spark, tmp_path):
    """Exporting a collection that has never seen an insert produces a
    valid sidecar-only snapshot (no FileNotFoundError — the data dir only
    exists after the first insert), and importing it yields a working
    empty collection that accepts inserts."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    col = ctx.create_collection("fresh")
    snap = col.export_to(str(tmp_path / "snap"))
    ctx2 = KaerContext(spark, str(tmp_path / "kaer2"))
    col2 = ctx2.import_collection("fresh2", snap)
    assert col2.count() == 0
    col2.insert(["first ever doc"])
    assert col2.count() == 1


def test_query_hybrid_index_is_transparent(spark, tmp_path):
    """Building a text index must not change query_hybrid results, even
    on a sparse corpus where fewer than `pool` docs hold any query term —
    the index path replays the scan path's zero-score min-id padding from
    doclens (r10 advice: an index that alters results breaks the
    transparent-accelerator expectation)."""
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer_tix"))
    ctx.create_collection("tr")
    col = ctx.get_collection("tr")
    texts = [
        "spark shuffle tuning guide",
        "cooking pasta at home tonight",
        "gardening tips for spring",
        "completely different things here",
    ]
    col.insert(texts)
    # "shuffle" matches ONE doc; pool=3 forces two zero-score pad rows
    before = [
        tuple(r)
        for r in col.query_hybrid("shuffle", k=4, pool=3).collect()
    ]
    col.build_text_index(n_buckets=8)
    after = [
        tuple(r)
        for r in col.query_hybrid("shuffle", k=4, pool=3).collect()
    ]
    assert after == before
    # and with no matching term at all the pools are pure padding
    b2 = [tuple(r) for r in col.query_hybrid("zzzmissing", k=4, pool=2).collect()]
    ctx2 = KaerContext(spark, str(tmp_path / "kaer_tix2"))
    ctx2.create_collection("tr")
    col2 = ctx2.get_collection("tr")
    col2.insert(texts)
    a2 = [tuple(r) for r in col2.query_hybrid("zzzmissing", k=4, pool=2).collect()]
    assert b2 == a2


def test_query_mmr_diversifies_and_filters(ctx):
    """query_mmr: near-duplicate docs can't crowd the top-k; the filter
    dialect applies to the pool; lam=1 degrades to plain cosine order."""
    c = ctx.create_collection("mmr")
    c.insert(
        ["alpha beta gamma", "alpha beta gamma", "alpha beta gamma",
         "totally different words here", "another unrelated document"],
        [{"grp": i} for i in range(5)],
    )
    out = c.query_mmr("alpha beta gamma", k=3, lam=0.4).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert len({r["_m_id"] for r in out}) == 3
    # with three exact dup docs, diversity must pull in a non-dup by k=3
    docs = [r["_m_doc"] for r in out]
    assert len(set(docs)) >= 2, docs
    # lam=1: pure relevance — the three exact dups win in id order
    rel = c.query_mmr("alpha beta gamma", k=3, lam=1.0).collect()
    assert [r["_m_doc"] for r in rel] == ["alpha beta gamma"] * 3
    # filter restricts the pool
    filt = c.query_mmr("alpha beta gamma", k=5, filter={"grp": {"$gte": 3}})
    assert {r["grp"] for r in filt.collect()} == {3, 4}


def test_query_phrase_through_collection(spark, tmp_path):
    """Collection.query_phrase: exact consecutive-token match over the
    positional index, current after inserts (catch-up), and refused
    before build_text_index."""
    import pytest as _pytest

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer_phr"))
    ctx.create_collection("pc")
    col = ctx.get_collection("pc")
    col.insert(
        [
            "the quick brown fox",
            "quick brown shoes on sale",
            "brown quick inverted order",
        ]
    )
    with _pytest.raises(ValueError, match="build_text_index"):
        col.query_phrase("quick brown")
    col.build_text_index(n_buckets=8)
    got = {
        r["_m_id"]: r["n_occurrences"]
        for r in col.query_phrase("quick brown").collect()
    }
    assert len(got) == 2 and all(v == 1 for v in got.values())
    assert col.query_phrase("brown fox shoes").count() == 0
    # inserts keep the index current: the new doc is phrase-searchable
    col.insert(["quick brown quick brown quick"])
    counts = sorted(
        r["n_occurrences"] for r in col.query_phrase("quick brown").collect()
    )
    assert counts == [1, 1, 2]
    top = col.query_phrase("quick brown", k=1).collect()
    assert top[0]["n_occurrences"] == 2


def test_deduplicate_against_ngram_and_bloom(spark, tmp_path):
    """Collection-level decontamination: method='ngram' removes docs
    sharing any word n-gram with the reference collection, method='bloom'
    removes at least those (FPs only over-remove; none at this m)."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext

    def fresh(name, texts):
        c = ctx.create_collection(name)
        c.insert(texts)
        return c

    train_texts = [
        "the secret benchmark question verbatim here",
        "a totally clean document about gardening",
        "another clean doc discussing cooking pasta",
    ]
    bench_texts = ["the secret benchmark question appears again"]

    ctx = KaerContext(spark, str(tmp_path / "kaer_ng"))
    tr = fresh("tr", train_texts)
    be = fresh("be", bench_texts)
    removed = tr.deduplicate_against(be, method="ngram", n=3)
    assert removed == 1
    assert tr.df().count() == 2
    assert tr.df().filter(
        F.col("_m_doc").contains("secret")
    ).count() == 0

    ctx = KaerContext(spark, str(tmp_path / "kaer_bl"))
    tr2 = fresh("tr2", train_texts)
    be2 = fresh("be2", bench_texts)
    removed2 = tr2.deduplicate_against(be2, method="bloom", n=3, m_bits=1 << 14)
    assert removed2 == 1
    assert tr2.df().count() == 2


def test_query_near_through_collection(spark, tmp_path):
    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer_near"))
    c = ctx.create_collection("nr")
    c.insert(["quick red brown fox", "quick fox", "fox quick"])
    c.build_text_index(n_buckets=8)
    got = {
        r["_m_id"]: r["n_matches"]
        for r in c.query_near("quick fox", slop=2).collect()
    }
    assert len(got) == 2 and all(v == 1 for v in got.values())  # not id 3
    assert c.query_near("quick fox", slop=0).count() == 1  # phrase only


def test_query_batch_compressed(spark, tmp_path):
    """compressed=True routes the batch through the at-rest PQ code table:
    with a shortlist covering the corpus the result equals the exact batch
    join, and the filtered form returns only matching docs."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    col = ctx.create_collection("qbc")
    col.insert(
        [f"document number {i} about topic {i % 3}" for i in range(18)],
        [{"grp": i % 2} for i in range(18)],
    )
    queries = col.df().limit(3).select(
        F.col("_m_id").alias("query_id"), F.col("_m_embedding").alias("embedding")
    )
    col.build_pq_index(m=8, k=16)
    comp = col.query_batch(queries, k=3, compressed=True, shortlist=18)
    exact = col.query_batch(queries, k=3)
    assert {(r["query_id"], r["_m_id"], r["rank"]) for r in comp.collect()} == {
        (r["query_id"], r["_m_id"], r["rank"]) for r in exact.collect()
    }
    filt = col.query_batch(
        queries, k=3, filter={"grp": 1}, compressed=True, shortlist=18
    )
    joined = filt.join(col.df().select("_m_id", "grp"), "_m_id").collect()
    assert joined and all(r["grp"] == 1 for r in joined)


def test_query_batch_compressed_forwards_nprobe(spark, tmp_path):
    """compressed=True + nprobe on a CELLED PQ index must probe (the r13
    advice: nprobe was silently ignored — a full code scan with no
    warning), matching the direct pq_index_knn_join at the same nprobe;
    and compressed+approximate together is ambiguous and raises."""
    from pyspark.sql import functions as F

    from kaer_spark.context import KaerContext
    from kaer_spark.operators.index_store import pq_index_knn_join

    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    col = ctx.create_collection("qbnp")
    col.insert(
        [f"doc number {i} about topic {i % 3}" for i in range(24)],
        [{"grp": i % 2} for i in range(24)],
    )
    queries = col.df().limit(3).select(
        F.col("_m_id").alias("query_id"),
        F.col("_m_embedding").alias("embedding"),
    )
    col.build_pq_index(m=8, k=16, cells=4)
    got = col.query_batch(
        queries, k=3, compressed=True, shortlist=12, nprobe=2
    )
    want = pq_index_knn_join(
        spark, col.pq_index_path, col.df(), queries,
        topk=3, shortlist=12, nprobe=2,
    )
    assert {(r["query_id"], r["_m_id"], r["rank"]) for r in got.collect()} == {
        (r["query_id"], r["_m_id"], r["rank"]) for r in want.collect()
    }
    with pytest.raises(ValueError, match="pick one"):
        col.query_batch(queries, k=3, compressed=True, approximate=True)


def test_index_health_reports_staleness_and_shape(ctx):
    """index_health(): one lazy report per BUILT index family, each
    carrying watermark_lag vs the collection's current rows — stale
    after an insert, zero after the matching refresh. (Observability the
    reference lacks: kaer's HNSW reports nothing, db/*.go has no stats
    surface.)"""
    coll = ctx.create_collection("health")
    coll.insert(
        [f"document number {i} about spark and parquet" for i in range(8)],
        [{"k": i} for i in range(8)],
    )
    assert coll.index_health() == {}  # nothing built yet
    coll.build_index(cells=2, fit="deterministic")
    coll.build_pq_index(m=2, k=2)
    coll.build_text_index(n_buckets=8)
    h = coll.index_health()
    assert sorted(h) == ["ivf", "pq", "text"]
    assert all(r["watermark_lag"] == 0
               for df in h.values() for r in df.collect())
    ivf = h["ivf"].collect()
    assert sum(r["n_vectors"] for r in ivf) == 8
    assert abs(sum(r["size_frac"] for r in ivf) - 1.0) < 1e-12
    assert h["pq"].collect()[0]["n_codes"] == 8
    t = h["text"].collect()[0]
    assert t["n_docs"] == 8 and t["n_terms"] > 0

    # batch insert auto-refreshes ALL THREE families (r15 closed the PQ
    # gap: PQ used to miss the O8 catch-up on batch insert), so the
    # health reports read zero lag right after the insert
    coll.insert(["a brand new late arrival about shuffles"], [{"k": 99}])
    lags = {k: df.collect()[0]["watermark_lag"]
            for k, df in coll.index_health().items()}
    assert lags == {"ivf": 0, "pq": 0, "text": 0}
    assert coll.index_health()["pq"].collect()[0]["n_codes"] == 9
    # manufactured staleness (a sidecar wound back, as a crashed refresh
    # would leave it) reads as positive lag
    import json as _json
    import os as _os

    from kaer_spark.operators.index_store import read_pq_meta

    pm = read_pq_meta(coll.pq_index_path)
    pm["max_id"] = pm["max_id"] - 1
    tmp = _os.path.join(coll.pq_index_path, "pq_index.json.tmp")
    meta_file = [f for f in _os.listdir(coll.pq_index_path)
                 if f.endswith(".json")][0]
    with open(tmp, "w") as f:
        _json.dump(pm, f)
    _os.replace(tmp, _os.path.join(coll.pq_index_path, meta_file))
    assert coll.index_health()["pq"].collect()[0]["watermark_lag"] == 1


def test_collection_dedup_indexes_health_and_serving(ctx):
    """[r16] The collection-owned decontamination artifacts: build_minhash
    /signlsh_index flag the meta, index_health() carries EVERY owned
    family with zero lag after insert (the O8 parity rule), and
    deduplicate_against on another collection serves from the standing
    artifact (kwargs-free call) with the same removals as the from-text
    pair."""
    ref = ctx.create_collection("reference")
    base = [
        f"reference document number {i} on spark catalyst and parquet "
        f"pushdown with a long shared boilerplate tail"
        for i in range(6)
    ]
    ref.insert(base, [{"k": i} for i in range(6)])
    ref.build_minhash_index(n=8, num_hashes=16, bands=4, seed=42)
    ref.build_signlsh_index(bands=4, bits_per_band=4, seed=7)
    h = ref.index_health()
    assert sorted(h) == ["minhash", "signlsh"]
    mh = h["minhash"].collect()[0]
    assert mh["n_docs"] == 6 and mh["watermark_lag"] == 0
    sl = h["signlsh"].collect()[0]
    assert sl["n_vecs"] == 6 and sl["watermark_lag"] == 0

    # batch insert refreshes BOTH (same parity rule the PQ gap violated)
    ref.insert(["a late reference arrival about shuffle planning"],
               [{"k": 99}])
    lags = {k: df.collect()[0]["watermark_lag"]
            for k, df in ref.index_health().items()}
    assert lags == {"minhash": 0, "signlsh": 0}
    assert ref.index_health()["minhash"].collect()[0]["n_docs"] == 7

    # a new crawl screens against the standing artifact: the near-copy
    # of a reference doc is removed, the novel doc survives
    crawl = ctx.create_collection("crawl")
    crawl.insert(
        [base[2], "an entirely novel document about streaming watermarks"],
        [{"k": 0}, {"k": 1}],
    )
    removed = crawl.deduplicate_against(ref, method="minhash")
    assert removed == 1
    assert crawl.df().count() == 1
    survivors = [r["_m_doc"] for r in crawl.df().collect()]
    assert "novel" in survivors[0]

    # a rewrite on the reference REBUILDS its artifacts (append-only
    # refresh can't express removal) — health stays lag-zero and the
    # doc count tracks the rewrite
    n_before = ref.df().count()
    ref.delete({"k": {"$eq": 99}})
    assert ref.df().count() == n_before - 1
    mh2 = ref.index_health()["minhash"].collect()[0]
    assert mh2["n_docs"] == n_before - 1 and mh2["watermark_lag"] == 0
    sl2 = ref.index_health()["signlsh"].collect()[0]
    assert sl2["n_vecs"] == n_before - 1


def test_minhash_index_stores_text_and_serves_from_it(ctx):
    """The collection-owned MinHash index keeps only band keys, the
    signed documents' text and its sidecar, also after an insert's
    catch-up; the screen served from it equals the from-text cross pairs,
    values included, and its doc-shingle quantiles equal those of
    ``_m_doc``."""
    import os

    from kaer_spark.operators.dedup import (
        minhash_near_dups_against_index,
        minhash_near_dups_between,
    )

    ref = ctx.create_collection("reference")
    base = [
        f"reference document number {i} on spark catalyst and parquet "
        f"pushdown with a {'long ' * (i % 3)}shared boilerplate tail"
        for i in range(6)
    ]
    ref.insert(base + ["short"], [{"k": i} for i in range(7)])
    ref.build_index(cells=2, fit="deterministic")
    ref.build_minhash_index(n=8, num_hashes=16, bands=4, seed=42)
    ref.insert(["a late reference arrival about shuffle planning"],
               [{"k": 99}])
    path = os.path.join(ref.path, "minhash_index")
    assert sorted(os.listdir(path)) == ["bands", "docs", "minhash_index.json"]

    crawl = ctx.create_collection("crawl")
    crawl.insert(
        [base[2], base[4] + " with an edit", "a novel text about watermarks"],
        [{"k": 0}, {"k": 1}, {"k": 2}],
    )
    served = sorted(map(tuple, minhash_near_dups_against_index(
        ctx.spark, path, crawl.df(), left_id_col="_m_id"
    ).collect()))
    fresh = sorted(map(tuple, minhash_near_dups_between(
        crawl.df(), ref.df(), "_m_id", "_m_id", text_col="_m_doc",
        n=8, num_hashes=16, bands=4, seed=42,
    ).collect()))
    assert served == fresh and fresh
    assert crawl.deduplicate_against(ref, method="minhash") == len(
        {left for left, _, _ in fresh}
    )

    sizes = sorted(
        len({t[i:i + 8] for i in range(len(t) - 7)})
        for t in (r["_m_doc"] for r in ref.df().collect())
        if len(t) >= 8
    )
    n = len(sizes)
    mh = ref.index_health()["minhash"].collect()[0]
    assert (mh["n_docs"], mh["max_doc_shingles"]) == (n, sizes[-1])
    assert mh["p50_doc_shingles"] == sizes[(n + 1) // 2 - 1]
    assert mh["p90_doc_shingles"] == sizes[(9 * n + 9) // 10 - 1]

    # tools/storage_report.py: one row per family and sub-table
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "storage_report",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "storage_report.py"),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    rows = {label: (b, f) for b, f, label in tool.report(ref.path)}
    assert [k for k in rows if k.startswith("  minhash_index/")] == [
        "  minhash_index/bands/", "  minhash_index/docs/"
    ]
    assert rows["minhash_index/"][1] == sum(
        rows[k][1] for k in ("  minhash_index/bands/", "  minhash_index/docs/")
    )
    assert rows["total"] == tool.tree_bytes(ref.path)


def test_df_columns_follow_the_catalog_order(ctx):
    """Every collection read takes the catalog schema's column order,
    also after an insert that adds a field (the merged parquet schema's
    order is not stable between runs)."""
    import json

    from pyspark.sql import types as T

    coll = ctx.create_collection("evolving")
    coll.insert(["first doc", "second doc"], [{"k": 1}, {"k": 2}])
    coll.insert(["third doc"], [{"k": 3, "added": "x"}])
    catalog = T.StructType.fromJson(json.loads(coll.meta["schema"]))
    assert coll.df().columns == [f.name for f in catalog.fields]
    assert "added" in coll.df().columns


def test_compact_data_preserves_rows_and_indexes(ctx):
    """[r16] compact(target_bytes=): per-insert parquet splinters collapse to
    ceil(bytes/target) files; rows/ids/schema unchanged, so attached
    indexes stay valid with zero lag and queries serve identically."""
    import glob

    coll = ctx.create_collection("compactme")
    for i in range(6):  # six inserts → six file sets
        coll.insert([f"document batch {i} item {j} about spark catalyst"
                     for j in range(4)], [{"k": i}] * 4)
    coll.build_index(cells=2, fit="deterministic")
    coll.build_text_index(n_buckets=4)
    before_files = len(glob.glob(f"{coll.data_path}/part-*"))
    assert before_files >= 6
    before_rows = sorted(
        (r["_m_id"], r["_m_doc"]) for r in coll.df().collect()
    )
    top_before = [r["_m_id"] for r in coll.query("document batch 3", k=5)
                  .collect()]

    n = coll.compact(target_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(f"{coll.data_path}/part-*")) == 1
    assert sorted(
        (r["_m_id"], r["_m_doc"]) for r in coll.df().collect()
    ) == before_rows
    # indexes untouched and still current — no rebuild happened
    lags = {k: df.collect()[0]["watermark_lag"]
            for k, df in coll.index_health().items()}
    assert lags == {"ivf": 0, "text": 0}
    assert [r["_m_id"] for r in coll.query("document batch 3", k=5)
            .collect()] == top_before


def test_swap_crash_pre_manifest_keeps_original(ctx, monkeypatch):
    """[r17] Crash BEFORE the swap manifest lands (the commit point):
    reopen must serve the ORIGINAL data — the rewrite never happened.
    Simulated by failing the manifest's os.replace inside compact and
    inside delete's _commit_rewrite."""
    import os as _os

    from kaer_spark.context import KaerContext

    coll = ctx.create_collection("crashpre")
    for i in range(3):
        coll.insert([f"pre doc {i} a", f"pre doc {i} b"], [{"k": i}] * 2)
    before_rows = sorted(
        (r["_m_id"], r["_m_doc"]) for r in coll.df().collect()
    )

    real_replace = _os.replace

    def boom(src, dst):
        if dst.endswith(".data_swap.json"):
            raise OSError("simulated crash before manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", boom)
    import pytest as _pytest

    with _pytest.raises(OSError):
        coll.compact(target_files=1)
    with _pytest.raises(OSError):
        coll.delete({"k": 0})
    monkeypatch.setattr(_os, "replace", real_replace)

    # fresh context = fresh open = heal path
    ctx2 = KaerContext(ctx.spark, ctx.root)
    healed = ctx2.get_collection("crashpre")
    assert sorted(
        (r["_m_id"], r["_m_doc"]) for r in healed.df().collect()
    ) == before_rows
    # no stranded swap state
    assert not _os.path.exists(healed.data_path + ".rewrite")
    assert not _os.path.exists(healed.data_path + ".old")
    assert not _os.path.exists(
        _os.path.join(healed.path, ".data_swap.json")
    )
    # the op still works after healing
    assert healed.compact(target_files=1) == 1


def test_swap_crash_post_manifest_rolls_forward(ctx, monkeypatch):
    """[r17] Crash AFTER the manifest lands but before/between the
    renames: reopen must roll FORWARD to the verified rewrite (compact →
    same rows; delete → surviving rows). Both interruption points are
    pinned: before the first rename and between the two."""
    import os as _os

    from kaer_spark.context import KaerContext

    coll = ctx.create_collection("crashpost")
    for i in range(3):
        coll.insert([f"post doc {i} a", f"post doc {i} b"], [{"k": i}] * 2)
    before_rows = sorted(
        (r["_m_id"], r["_m_doc"]) for r in coll.df().collect()
    )

    real_rename = _os.rename

    def boom_first(src, dst):
        if src.endswith("/data") and dst.endswith("/data.old"):
            raise OSError("simulated crash before first rename")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", boom_first)
    import pytest as _pytest

    with _pytest.raises(OSError):
        coll.compact(target_files=1)
    monkeypatch.setattr(_os, "rename", real_rename)
    # crash state: data intact, verified .rewrite + manifest present
    assert _os.path.isdir(coll.data_path + ".rewrite")
    ctx2 = KaerContext(ctx.spark, ctx.root)
    healed = ctx2.get_collection("crashpost")
    assert sorted(
        (r["_m_id"], r["_m_doc"]) for r in healed.df().collect()
    ) == before_rows  # compact is content-preserving
    assert len(healed.data_files()) == 1  # and the rewrite WAS committed
    assert not _os.path.exists(healed.data_path + ".old")
    assert not _os.path.exists(
        _os.path.join(healed.path, ".data_swap.json")
    )

    # between the renames, on the DELETE path: data.old exists, data gone
    def boom_second(src, dst):
        if src.endswith("/data.rewrite") and dst.endswith("/data"):
            raise OSError("simulated crash between renames")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", boom_second)
    with _pytest.raises(OSError):
        healed.delete({"k": 1})
    monkeypatch.setattr(_os, "rename", real_rename)
    assert not _os.path.isdir(healed.data_path)  # the r16 strand window
    ctx3 = KaerContext(ctx.spark, ctx.root)
    healed2 = ctx3.get_collection("crashpost")
    kept = sorted(
        (r["_m_id"], r["_m_doc"]) for r in healed2.df().collect()
    )
    assert kept == [r for r in before_rows if "1" not in r[1].split()[2]]
    assert _os.path.isdir(healed2.data_path)
    assert not _os.path.exists(healed2.data_path + ".old")


def test_heal_data_swap_legacy_and_partial_states(tmp_path):
    """[r17] heal_data_swap unit coverage for the manifest-less states:
    a stranded unverified .rewrite is dropped; a legacy .old with no
    data (pre-manifest crash) is restored; .old beside live data is
    cleanup debris."""
    import os as _os

    from kaer_spark.context import heal_data_swap

    root = tmp_path / "c1"
    root.mkdir()
    (root / "data.rewrite").mkdir()
    (root / "data.rewrite" / "part-0.parquet").write_text("x")
    (root / "data").mkdir()
    (root / "data" / "part-0.parquet").write_text("orig")
    assert heal_data_swap(str(root)) is True
    assert not (root / "data.rewrite").exists()
    assert (root / "data" / "part-0.parquet").read_text() == "orig"

    root2 = tmp_path / "c2"
    root2.mkdir()
    (root2 / "data.old").mkdir()
    (root2 / "data.old" / "part-0.parquet").write_text("legacy")
    assert heal_data_swap(str(root2)) is True
    assert (root2 / "data" / "part-0.parquet").read_text() == "legacy"
    assert not (root2 / "data.old").exists()

    root3 = tmp_path / "c3"
    root3.mkdir()
    (root3 / "data").mkdir()
    (root3 / "data.old").mkdir()
    assert heal_data_swap(str(root3)) is True
    assert not (root3 / "data.old").exists()
    # idempotent and quiet on a clean dir
    assert heal_data_swap(str(root3)) is False


def test_collection_shingle_and_fuzzy_artifacts(ctx):
    """[r17] Collection-owned shingle + fuzzy index families (r16 verdict
    missing #2): build on the collection, insert refreshes both to zero
    lag (the engine-wide O8 parity rule), index_health reports them, and
    deduplicate_against transparently serves from the standing artifacts
    with values identical to the from-text path."""
    ref = ctx.create_collection("ref_sf")
    ref.insert(
        [f"reference document number {i} about spark catalyst optimizer "
         f"rules shared suffix" for i in range(6)],
        [{"k": i} for i in range(6)],
    )
    ref.build_shingle_index(n=8, max_doc_freq=8)
    ref.build_fuzzy_index(max_edits=2, key_len=24)

    # O8 parity: insert refreshes BOTH, health shows zero lag
    ref.insert(["reference document number 6 about spark catalyst "
                "optimizer rules shared suffix"], [{"k": 6}])
    health = ref.index_health()
    assert {"shingle", "fuzzy"} <= set(health)
    assert health["shingle"].collect()[0]["watermark_lag"] == 0
    f = health["fuzzy"].collect()[0]
    assert f["watermark_lag"] == 0
    assert f["n_docs"] == 7 and f["n_seg_rows"] == 7 * 3

    # jaccard screen serves from the standing artifact; values match the
    # from-text twin (force it by passing operator kwargs)
    probe = ctx.create_collection("probe_sf")
    probe.insert(
        ["reference document number 2 about spark catalyst optimizer "
         "rules shared suffix",  # near-verbatim -> screened
         "totally novel probe content nothing shared here at all"],
        [{}, {}],
    )
    probe2 = ctx.create_collection("probe_sf2")
    probe2.insert(
        [r["_m_doc"] for r in probe.df().orderBy("_m_id").collect()],
        [{}, {}],
    )
    removed_indexed = probe.deduplicate_against(ref, method="jaccard",
                                                threshold=0.5)
    removed_fresh = probe2.deduplicate_against(
        ref, method="jaccard", threshold=0.5, n=8, max_doc_freq=8
    )
    assert removed_indexed == removed_fresh == 1
    assert probe.count() == probe2.count() == 1

    # fuzzy screen: a one-edit variant passes jaccard at high threshold
    # but not the edit screen
    probe3 = ctx.create_collection("probe_sf3")
    probe3.insert(
        ["reference document number 3 about spark catalyst optimizer "
         "rules shared suffix!",  # one appended char
         "totally novel probe content nothing shared here at all"],
        [{}, {}],
    )
    removed_fz = probe3.deduplicate_against(ref, method="fuzzy")
    assert removed_fz == 1 and probe3.count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        probe3.deduplicate_against(ref, method="fuzzy", threshold=0.5)

    # a rewrite (delete) rebuilds both artifacts under the same geometry
    ref.delete({"k": 0})
    h2 = ref.index_health()
    assert h2["shingle"].collect()[0]["n_docs"] == 6
    f2 = h2["fuzzy"].collect()[0]
    assert f2["n_docs"] == 6 and f2["watermark_lag"] == 0


def test_collection_winnow_artifact_and_snapshot_families(ctx, tmp_path):
    """[r17] Winnow joins the collection-owned families with the full
    contract (build, insert zero-lag, health, winnow-method screening),
    and export/import carries EVERY owned artifact family — the r17 fix:
    snapshots copied only index/text_index, so an imported collection's
    sidecar claimed artifacts whose directories didn't exist."""
    from kaer_spark.context import KaerContext

    ref = ctx.create_collection("wn_ref")
    ref.insert(
        [f"a long shared passage about catalyst optimization {i % 3} "
         f"plus unique tail {i}" for i in range(6)],
        [{"k": i} for i in range(6)],
    )
    ref.build_winnow_index(k=16, window=4)
    ref.build_minhash_index(n=6, num_hashes=8, bands=4)
    ref.insert(["a long shared passage about catalyst optimization 0 "
                "plus unique tail 6"], [{"k": 6}])
    h = ref.index_health()
    assert {"winnow", "minhash"} <= set(h)
    w = h["winnow"].collect()[0]
    assert w["watermark_lag"] == 0 and w["n_docs"] == 7

    probe = ctx.create_collection("wn_probe")
    probe.insert(
        ["a long shared passage about catalyst optimization 1 "
         "plus unique tail 99",  # shares the long prefix passage
         "nothing in common with the reference corpus at all here"],
        [{}, {}],
    )
    removed = probe.deduplicate_against(ref, method="winnow", threshold=2)
    assert removed == 1 and probe.count() == 1

    # snapshot round-trip carries winnow + minhash artifacts
    snap = ref.export_to(str(tmp_path / "snap"))
    ctx2 = KaerContext(ctx.spark, str(tmp_path / "kaer2"))
    ref2 = ctx2.import_collection("wn_restored", snap)
    h2 = ref2.index_health()
    assert {"winnow", "minhash"} <= set(h2)
    assert h2["winnow"].collect()[0]["n_docs"] == 7
    # the imported standing artifact SERVES (the pre-fix crash path)
    probe2 = ctx2.create_collection("wn_probe2")
    probe2.insert(
        ["a long shared passage about catalyst optimization 1 "
         "plus unique tail 99", "nothing in common at all with it"],
        [{}, {}],
    )
    assert probe2.deduplicate_against(ref2, method="winnow",
                                      threshold=2) == 1

    # delete-path rebuild under sidecar geometry
    ref.delete({"k": 0})
    w3 = ref.index_health()["winnow"].collect()[0]
    assert w3["n_docs"] == 6 and w3["watermark_lag"] == 0
    assert w3["k"] == 16 and w3["window"] == 4


def test_delete_rebuilds_pq_index(ctx):
    """[r17] _commit_rewrite skipped the PQ family: a delete left deleted
    ids IN the code table, so compressed serving burned shortlist slots
    on ghost rows (under-filling k after heavy deletion) — every other
    family already rebuilt. Pin: after deleting most of the corpus, a
    small-shortlist query_pq still fills k from LIVE rows only, and the
    code table's row count matches the survivors."""
    coll = ctx.create_collection("pqdel")
    coll.insert(
        [f"pq document number {i} about catalyst" for i in range(30)],
        [{"grp": "dead" if i >= 6 else "live"} for i in range(30)],
    )
    coll.build_pq_index(m=8, k=4, fit="deterministic")
    removed = coll.delete({"grp": "dead"})
    assert removed == 24
    codes = ctx.spark.read.parquet(f"{coll.pq_index_path}/data")
    assert codes.count() == 6  # rebuilt over survivors, no ghosts
    got = coll.query_pq("pq document number 3 about catalyst",
                        k=5, shortlist=6).collect()
    assert len(got) == 5
    live = {r["_m_id"] for r in coll.df().collect()}
    assert {r["_m_id"] for r in got} <= live
    # and the health report stays consistent
    lag = coll.index_health()["pq"].collect()[0]["watermark_lag"]
    assert lag == 0


def test_every_index_family_rides_the_collection_lifecycle(ctx, tmp_path):
    """All eight standing-index families through one lifecycle, each
    step a loop over ``INDEX_FAMILIES``: an insert leaves every health
    report at zero lag, a snapshot carries every family, a partial delete
    rebuilds each under identical sidecar geometry, and a delete-all
    clears every flag and directory."""
    import os

    from kaer_spark.context import INDEX_FAMILIES

    def geometries(c):
        return {
            f.key: f.geometry(f.read_meta(f.dir_in(c.path)), 10)
            for f in INDEX_FAMILIES
        }

    coll = ctx.create_collection("families")
    coll.insert(
        [f"family doc {i} about catalyst rules" for i in range(8)],
        [{"k": i} for i in range(8)],
    )
    coll.build_index(cells=2, fit="deterministic")
    coll.build_text_index(n_buckets=2)
    coll.build_pq_index(m=4, k=2)
    coll.build_minhash_index(n=3, num_hashes=4, bands=2)
    coll.build_signlsh_index(bands=2, bits_per_band=2)
    coll.build_shingle_index(n=3)
    coll.build_fuzzy_index(max_edits=1, key_len=4)
    coll.build_winnow_index(k=4, window=2)
    stats = coll.stats()
    assert all(stats[f.flag] for f in INDEX_FAMILIES)

    coll.insert(
        [f"family doc {i} about catalyst rules" for i in (8, 9)],
        [{"k": 8}, {"k": 9}],
    )
    health = coll.index_health()
    assert set(health) == {f.key for f in INDEX_FAMILIES}
    lags = {
        key: {r[0] for r in df.select("watermark_lag").collect()}
        for key, df in health.items()
    }
    assert lags == {f.key: {0} for f in INDEX_FAMILIES}

    snap = coll.export_to(str(tmp_path / "snap"))
    twin = KaerContext(ctx.spark, str(tmp_path / "kaer2")).import_collection(
        "restored", snap
    )
    for f in INDEX_FAMILIES:
        assert twin.meta[f.flag] and os.path.isdir(f.dir_in(twin.path))
    assert geometries(twin) == geometries(coll)

    before = geometries(coll)
    assert coll.delete({"k": 0}) == 1
    assert geometries(coll) == before
    for f in INDEX_FAMILIES:
        assert f.read_meta(f.dir_in(coll.path))["max_id"] == 9

    assert coll.delete({"k": {"$gte": 0}}) == 9
    reopened = KaerContext(ctx.spark, ctx.root).get_collection("families")
    for c in (coll, reopened):
        assert not c.meta["has_data"]
        for f in INDEX_FAMILIES:
            assert not c.meta[f.flag]
            assert not os.path.isdir(f.dir_in(c.path))


def test_deduplicate_against_checks_arguments_on_empty_collections(ctx):
    """Method and threshold are checked before the empty-collection
    shortcut, and every method that reads no threshold rejects one."""
    a = ctx.create_collection("empty_a")
    b = ctx.create_collection("empty_b")
    with pytest.raises(ValueError, match="method must be"):
        a.deduplicate_against(b, method="nope")
    for method in ("fuzzy", "ngram", "bloom"):
        with pytest.raises(ValueError, match="takes no threshold"):
            a.deduplicate_against(b, method=method, threshold=0.5)
    for method in ("minhash", "embedding", "jaccard", "winnow"):
        assert a.deduplicate_against(b, method=method, threshold=0.5) == 0
    for method in ("fuzzy", "ngram", "bloom"):
        assert a.deduplicate_against(b, method=method) == 0


def test_insert_df_rejects_vectors_of_the_wrong_dimension(ctx, spark):
    """A caller-supplied ``_m_embedding`` must have the collection's
    dimension. A wrong-length or null vector would sort first in every
    query as a null distance; instead the write fails, commits no file,
    and leaves the catalog as it was, so the next valid insert takes the
    next ids."""
    coll = ctx.create_collection("dims", dim=4)
    coll.insert(["alpha doc", "beta doc"])
    before = dict(coll.meta)
    schema = "_m_doc string, _m_embedding array<float>"
    for bad in ([1.0] * 8, None):
        with pytest.raises(Exception, match="must be a non-null 4-dim vector"):
            coll.insert_df(spark.createDataFrame([("bad doc", bad)], schema))
        assert coll.count() == 2
        assert coll.meta == before
    first = coll.insert_df(
        spark.createDataFrame([("good doc", [0.5] * 4)], schema)
    )
    assert first == 2 and coll.meta["next_id"] == 3
    rows = {r["_m_id"]: r["_m_doc"] for r in coll.df().collect()}
    assert rows == {0: "alpha doc", 1: "beta doc", 2: "good doc"}


def _batch(spark, lo: int, n: int):
    """``n`` one-partition rows, so each insert adds one data file."""
    return spark.createDataFrame(
        [(f"pinned doc {i} about catalyst rules", i) for i in range(lo, lo + n)],
        "_m_doc string, k long",
    ).coalesce(1)


def _record_paths(monkeypatch) -> list[bool]:
    """Record, per refresh, whether the watermark protocol took the clean
    path (``util.batch_tail`` returned a tail) or the lagging one."""
    from kaer_spark.operators import text_index, util

    taken: list[bool] = []
    decide = util.batch_tail

    def spy(df, meta, batch):
        tail = decide(df, meta, batch)
        taken.append(tail is not None)
        return tail

    monkeypatch.setattr(util, "batch_tail", spy)
    monkeypatch.setattr(text_index, "batch_tail", spy)
    return taken


def _ivf_minhash_collection(ctx, spark):
    coll = ctx.create_collection("pinned")
    coll.insert_df(_batch(spark, 0, 8))
    coll.build_index(cells=2, fit="deterministic")
    coll.build_minhash_index(n=3, num_hashes=4, bands=2)
    return coll


def _assert_indexed_once(coll):
    """Every data row sits in the IVF and MinHash tables exactly once, and
    neither index lags."""
    n = coll.count()
    health = coll.index_health()
    ivf = health["ivf"].collect()
    assert sum(r["n_vectors"] for r in ivf) == n
    (mh,) = health["minhash"].collect()
    assert (mh["n_docs"], mh["n_band_rows"]) == (n, 2 * n)
    assert {r["watermark_lag"] for r in ivf} | {mh["watermark_lag"]} == {0}


#: Spark jobs one clean-path insert of a small batch fires into a
#: collection owning IVF and MinHash, data write included. MinHash's
#: signature pass runs the small tail in one round
#: (``util.size_python_stage``); widening it over every core fired 8.
#: Catching up by re-deriving the batch (a max() job and a replay-guard
#: anti-join per family) fired 18. Numbering the ids with a window over
#: the checkpoint (its exchange ran as its own job) fired 7.
INSERT_JOBS_IVF_MINHASH = 6


def test_insert_catches_up_from_the_batch_range(ctx, spark, monkeypatch):
    """An insert hands each owned family the id range it wrote; with the
    watermark at ``lo - 1`` the catch-up runs no max() job and no replay
    guard, and the insert's job count is pinned."""
    from tests.conftest import jobs_fired

    coll = _ivf_minhash_collection(ctx, spark)
    taken = _record_paths(monkeypatch)
    with jobs_fired(spark) as fired:
        assert coll.insert_df(_batch(spark, 8, 2)) == 8
    assert taken == [True, True]
    assert len(fired) == INSERT_JOBS_IVF_MINHASH, fired
    _assert_indexed_once(coll)


def test_clean_catch_up_reads_only_the_inserted_files(ctx, spark, monkeypatch):
    """On the clean path each family's tail scans exactly the part files
    the insert added to ``data/``, not the whole collection."""
    from kaer_spark.operators import text_index, util

    coll = _ivf_minhash_collection(ctx, spark)
    coll.build_text_index(n_buckets=2)
    tails = []
    decide = util.batch_tail

    def spy(df, meta, batch):
        tail = decide(df, meta, batch)
        tails.append(tail)
        return tail

    monkeypatch.setattr(util, "batch_tail", spy)
    monkeypatch.setattr(text_index, "batch_tail", spy)
    before = set(coll.data_files())
    coll.insert_df(_batch(spark, 8, 2))
    added = set(coll.data_files()) - before
    assert len(added) == 1 and len(before) >= 1 and len(tails) == 3
    for tail in tails:
        assert {f.removeprefix("file://") for f in tail.inputFiles()} == added
    _assert_indexed_once(coll)


def test_clean_inserts_match_a_fresh_build(ctx, spark, tmp_path):
    """Three clean-path inserts leave the IVF, MinHash and text tables
    row-equal to a from-scratch build over the same collection under the
    same geometry."""
    import os

    from kaer_spark.context import ID_COL, INDEX_FAMILIES
    from kaer_spark.sources.files import read_parquet

    tables = {"ivf": ["data"], "minhash": ["bands", "docs"], "text": ["postings", "doclens"]}

    def rows(root, sub):
        df = read_parquet(spark, os.path.join(root, sub), merge_schema=True)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)

    coll = _ivf_minhash_collection(ctx, spark)
    coll.build_text_index(n_buckets=2)
    for lo in (8, 10, 12):
        coll.insert_df(_batch(spark, lo, 2))
    assert coll.count() == 14
    for fam in INDEX_FAMILIES:
        if fam.key not in tables:
            continue
        grown = fam.dir_in(coll.path)
        fresh = str(tmp_path / "fresh" / fam.key)
        geometry = fam.geometry(fam.read_meta(grown), 14)
        fam.build(coll.df(), fresh, id_col=ID_COL, **fam.column, **geometry)
        for sub in tables[fam.key]:
            assert rows(grown, sub) == rows(fresh, sub), (fam.key, sub)


def test_insert_after_a_rewrite_that_deleted_the_top_ids(ctx, spark, monkeypatch):
    """A delete of the highest ids rebuilds each index with ``max_id``
    below ``next_id - 1``. The next insert catches up on the lagging path
    and indexes its batch once; the one after takes the clean path again
    at the pinned job count."""
    from kaer_spark.context import INDEX_FAMILIES

    from tests.conftest import jobs_fired

    coll = _ivf_minhash_collection(ctx, spark)
    assert coll.delete({"k": {"$gte": 6}}) == 2
    assert coll.meta["next_id"] == 8
    for fam in INDEX_FAMILIES:
        if coll.meta.get(fam.flag):
            assert fam.read_meta(fam.dir_in(coll.path))["max_id"] == 5
    taken = _record_paths(monkeypatch)
    assert coll.insert_df(_batch(spark, 8, 2)) == 8
    assert taken == [False, False]
    _assert_indexed_once(coll)
    taken.clear()
    with jobs_fired(spark) as fired:
        assert coll.insert_df(_batch(spark, 10, 2)) == 10
    assert taken == [True, True]
    assert len(fired) == INSERT_JOBS_IVF_MINHASH, fired
    _assert_indexed_once(coll)


def test_crash_on_the_clean_path_replays_on_the_lagging_path(
    ctx, spark, tmp_path, monkeypatch
):
    """Every family appends an insert's batch but none flips its
    watermark, as a crash between the append and the flip leaves it: the
    flip, as each operator module binds it, records nothing and the last
    one raises. The next insert finds every watermark below ``lo - 1``,
    takes the lagging path, and its replay guards keep each row indexed
    once: every family reports zero lag, and each family whose refresh
    is row-identical to a rebuild reports the stats of a fresh build."""
    from kaer_spark.context import ID_COL, INDEX_FAMILIES
    from kaer_spark.operators import dedup, index_store, text_index

    coll = ctx.create_collection("crashed")
    texts = [f"family doc {i} about catalyst rules" for i in range(11)]
    coll.insert(texts[:8], [{"k": i} for i in range(8)])
    coll.build_index(cells=2, fit="deterministic")
    coll.build_text_index(n_buckets=2)
    coll.build_pq_index(m=4, k=2)
    coll.build_minhash_index(n=3, num_hashes=4, bands=2)
    coll.build_signlsh_index(bands=2, bits_per_band=2)
    coll.build_shingle_index(n=3)
    coll.build_fuzzy_index(max_edits=1, key_len=4)
    coll.build_winnow_index(k=4, window=2)

    lost: list[str] = []

    def lost_flip(path, meta_file, meta, new_max, advance_to=None):
        lost.append(meta_file)
        if len(lost) == len(INDEX_FAMILIES):
            raise RuntimeError("crash before the watermark flip")
        return meta

    for mod in (index_store, dedup, text_index):
        monkeypatch.setattr(mod, "flip_watermark", lost_flip)
    with pytest.raises(RuntimeError, match="crash before"):
        coll.insert(texts[8:9], [{"k": 8}])
    monkeypatch.undo()
    assert len(lost) == len(INDEX_FAMILIES)

    taken = _record_paths(monkeypatch)
    coll.insert(texts[9:], [{"k": 9}, {"k": 10}])
    assert taken == [False] * len(INDEX_FAMILIES)

    n = coll.count()
    assert n == 11
    health = {k: v.collect() for k, v in coll.index_health().items()}
    for key, rows in health.items():
        assert {r["watermark_lag"] for r in rows} == {0}, key
    assert sum(r["n_vectors"] for r in health["ivf"]) == n
    assert sum(r["n_codes"] for r in health["pq"]) == n
    data = coll.df()
    for fam in INDEX_FAMILIES:
        if fam.key in ("ivf", "pq"):
            continue  # a fresh build refits its centroids and codebooks
        fresh = str(tmp_path / f"fresh_{fam.key}")
        geometry = fam.geometry(fam.read_meta(fam.dir_in(coll.path)), n)
        fam.build(data, fresh, id_col=ID_COL, **fam.column, **geometry)
        want = fam.stats(spark, fresh, corpus=data).collect()
        assert health[fam.key] == want, fam.key
