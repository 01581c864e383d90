"""Plan-shape regression tests: the engine's scale contract, checked
against the actual physical plans (a plan regression fails here instead of
silently costing 10× on a cluster)."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from kaer_spark.filters import compile_filter
from kaer_spark.operators.knn import exact_knn
from kaer_spark.plans import (
    executed_plan,
    explain_summary,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)

QVEC = [0.1] * 64

_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_ARROW_EVAL = re.compile(r"ArrowEvalPython \[(.*?)\], \[")


def assert_python_only_fphash(plan: str) -> None:
    """Exact allow-list for Python in a physical plan: every Python node
    is an ``ArrowEvalPython`` whose UDFs are all the engine's ``fphash_*``
    window hashes (kaer_spark.functions.fphash) — no BatchEvalPython, no
    MapInPandas, no other UDF."""
    for line in plan.splitlines():
        if not _PY_NODE.search(line):
            continue
        m = _ARROW_EVAL.search(line)
        assert m, f"non-Arrow Python node in plan: {line.strip()}"
        udfs = re.findall(r"(?:^|, )([A-Za-z_]\w*)\(", m.group(1))
        assert udfs and all(u.startswith("fphash_") for u in udfs), (
            f"Python UDF outside the fphash allow-list: {line.strip()}"
        )


def test_filter_pushdown_reaches_scan(documents):
    df = documents.filter(compile_filter({"lang": "de", "n_chars": {"$gt": 100}}))
    pushed = " ".join(pushed_filters(df))
    assert "EqualTo(lang,de)" in pushed
    assert "GreaterThan(n_chars,100)" in pushed


def test_column_pruning(documents):
    df = documents.select("doc_id", "lang")
    cols = read_schema_columns(df)
    assert cols and cols[0] == {"doc_id", "lang"}


def test_knn_is_takeordered_with_broadcast(corpus):
    df = exact_knn(corpus, QVEC, 5, vec_col="embedding", id_col="doc_id",
                   filter={"lang": "en"})
    s = explain_summary(df)
    assert s["has_take_ordered"], "top-k must plan as TakeOrderedAndProject"
    assert s["n_sortmerge_joins"] == 0, "1:1 doc/emb join must broadcast"
    assert has_broadcast_join(df)


def test_knn_never_global_sorts(corpus):
    df = exact_knn(corpus, QVEC, 5, vec_col="embedding", id_col="doc_id")
    plan = executed_plan(df)
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_small_dim_joins_broadcast(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    assert has_broadcast_join(j)


def test_interval_join_is_equijoin_not_cartesian(spark):
    """The band predicate must ride on the user_id equi-join — a plan that
    degenerates to a nested-loop cross product would be quadratic at scale."""
    from kaer_spark.operators.interval import interval_join

    left = spark.range(100).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("ts")
    )
    right = spark.range(100).select(
        (F.col("id") % 10).alias("k"), (F.col("id") * 2).alias("ts")
    )
    plan = executed_plan(interval_join(left, right, ["k"], "ts", "ts", -10, 0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_pushdown(spark, sf_dir):
    """Q6 is scan-filter-agg; every filter must reach the parquet scan."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q6"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "LessThan(l_quantity,24" in pushed
    assert "l_discount" in pushed


def test_tpch_q3_broadcasts_dimension(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["tpch_q3"](spark, sf_dir)
    assert has_broadcast_join(df)
    s = explain_summary(df)
    assert s["has_take_ordered"], "top-10 must plan as TakeOrderedAndProject"


def test_jaccard_df_cap_is_broadcast_anti(documents):
    from kaer_spark.operators.dedup import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(documents, max_doc_freq=50)
    plan = executed_plan(df)
    assert "LeftAnti, BuildRight" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_metadata_only_scan_skips_embeddings(corpus):
    """Projecting only metadata must not read the (wide) embedding column."""
    df = corpus.filter(F.col("lang") == "en").select("doc_id", "lang")
    for cols in read_schema_columns(df):
        # the embeddings-side scan may survive for the join, but a pure
        # documents projection must not include the vector bytes
        if "embedding" in cols:
            assert cols == {"embedding", "vec_id"}  # join key + value only


def test_sampling_is_scan_stage_no_shuffle(documents):
    """hash_sample and weighted_mix must be pure scan-stage filters —
    zero exchanges at any corpus size."""
    from kaer_spark.operators.sampling import hash_sample, weighted_mix

    for df in (
        hash_sample(documents, rate_permille=100),
        weighted_mix(documents, "source", {"src0": 500}, default_permille=50),
    ):
        assert "Exchange" not in executed_plan(df)


def test_pack_sequences_single_exchange(documents):
    """Packing = one shard-keyed window shuffle, nothing else."""
    from kaer_spark.operators.packing import pack_sequences

    plan = executed_plan(pack_sequences(documents, max_tokens=1024, shards=8))
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_no_python_and_bounded_exchanges(documents):
    """BM25 stays JVM-side (no Python eval operators) and shuffles only
    for the single corpus-stats aggregate (+ its broadcast back)."""
    from kaer_spark.operators.ranking import bm25_scores

    plan = executed_plan(bm25_scores(documents, ["join", "hash"]))
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert plan.count("Exchange hashpartitioning") == 0  # agg is global, not keyed


def test_training_mix_packed_single_fused_plan(spark, sf_dir):
    """The composed mix→quality→dedup→pack pipeline must stay ONE Catalyst
    plan: a single documents scan (no re-read per stage), no Python, and
    exactly the three window/agg shuffles the stages own (lang quality cut,
    text dedup, shard packing)."""
    import __spark_entry__ as entrymod

    plan = executed_plan(entrymod.queries()["training_mix_packed"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") == 3


def test_sliding_7d_windows_over_daily_rollup(spark, sf_dir):
    """The 7-day sliding window must run over the DAILY ROLLUP (one row per
    day×dims), never raw events: the Window node consumes the aggregate's
    count output and frames RANGE [-6, current] on the day index. Two
    exchanges total — the daily groupBy and the dims window."""
    import re

    import __spark_entry__ as entrymod

    plan = executed_plan(entrymod.queries()["sliding_7d"](spark, sf_dir))
    assert "specifiedwindowframe(RangeFrame, -6, currentrow" in plan
    # window input is the rollup's `n` aggregate, not an events column
    assert re.search(r"Window \[sum\(n#\d+L\)", plan)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Python" not in plan


def test_cohort_retention_one_user_shuffle(spark, sf_dir):
    """Cohort retention = one shuffle keyed on the high-cardinality user
    for first-seen, then one (cohort, offset) aggregate exchange — no
    extra distinct exchange, no Python, one events scan."""
    import re

    import __spark_entry__ as entrymod

    plan = executed_plan(entrymod.queries()["cohort_retention"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert re.search(r"Exchange hashpartitioning\(user#\d+", plan)
    assert "Python" not in plan


def test_token_budget_mix_single_full_exchange(documents):
    """Budgeted mixing must shuffle the full data ONCE (the per-(group,
    shard) cumsum window); the shard-totals aggregate is map-side combined
    and the offsets come back as a broadcast, never a second full-data
    exchange. No Python anywhere."""
    from kaer_spark.operators.sampling import token_budget_mix

    df = documents.withColumn("ntok", F.size(F.split("text", " ")))
    plan = executed_plan(token_budget_mix(df, "source", {"src0": 1000}, "ntok"))
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan
    # window exchange + partial-agg exchange + tiny offsets exchange: the
    # aggregate sides carry combined partials, so only ONE exchange sees
    # full row volume. Guard the exchange count so a rewrite that adds a
    # join-keyed reshuffle of the corpus fails here.
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan


def test_bigram_lm_no_python_and_keyed_exchanges(documents):
    """The self-trained LM stays JVM-side end to end; every exchange keys
    on high-cardinality token columns (w / w,v / doc id), never a global
    single-reducer stage."""
    from kaer_spark.operators.ranking import bigram_lm_scores

    plan = executed_plan(bigram_lm_scores(documents))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the only single-partition stage is the vocab-size count, whose input
    # is per-partition count partials (longs) after the keyed distinct —
    # never a stage that ships token data to one reducer
    assert plan.count("Exchange SinglePartition") == 1


def test_ivf_knn_join_bounded_qid_window(corpus):
    """The approximate join's final per-query window must get the same
    WindowGroupLimit partial/final bound as knn_join — the qid exchange
    carries at most partitions × queries × k rows, and no Python runs."""
    from kaer_spark.operators.similarity import ivf_knn_join

    queries = corpus.limit(8).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    plan = executed_plan(
        ivf_knn_join(queries, corpus, k=3, cells=4, nprobe=2)
    )
    assert plan.count("WindowGroupLimit") == 2  # Partial below, Final above
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_knn_join_cosine_bounded_qid_window(corpus):
    """The cosine-metric variant must keep the same WindowGroupLimit
    partial/final bound as the l2sq path (the angle probe and spherical
    scoring change expressions, not the exchange shape)."""
    from kaer_spark.operators.similarity import ivf_knn_join

    queries = corpus.limit(8).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    plan = executed_plan(
        ivf_knn_join(queries, corpus, k=3, cells=4, nprobe=2, metric="cosine")
    )
    assert plan.count("WindowGroupLimit") == 2
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_against_band_join_shape(documents):
    """dedup_against: the cross-corpus band join must stay an equi-join on
    (band, key) with no cartesian product and no Python crossing, and at
    runtime AQE must size the matched-id side and convert the LeftAnti
    removal to a broadcast join (statically it's an SMJ because the hit
    count is unknown — asserting the FINAL adaptive plan pins the runtime
    behavior, which is also what a cluster would do when the hit set fits;
    when it doesn't, the SMJ anti costs one exchange of the new-crawl side
    only, never the reference corpus)."""
    from kaer_spark.operators.dedup import dedup_against

    out = dedup_against(
        documents.filter(F.col("doc_id") % 2 == 0),
        documents.filter(F.col("doc_id") % 2 == 1),
        n=8, num_hashes=16, bands=4, threshold=0.4, seed=42,
    )
    out.collect()  # drive THIS query execution to its final adaptive plan
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan.split("LeftAnti")[0].rsplit("\n", 1)[-1]


def test_ivf_knn_join_skew_split_engages(spark, embeddings):
    """The hot-cell story (similarity.ivf_knn_join docstring: 'AQE's
    skew-join split handles hot cells') probed, not asserted: collapse
    half the corpus into one cell, lower the AQE thresholds to fixture
    scale, and the final adaptive plan must carry a skew-split join
    (skew=true). tools/scale_probe.py measures the wall-clock win on the
    10x corpus (3.5s -> 2.1s at sf0.01)."""
    from kaer_spark.operators.similarity import ivf_fit_spread, ivf_knn_join

    # 10 offset copies: AQE splits at map-output-block granularity, so the
    # hot partition must span multiple mapper blocks before a split is even
    # possible — the 1x fixture is a single block and can't split
    offset = (embeddings.agg(F.max("vec_id")).collect()[0][0] or 0) + 1
    base = embeddings
    for i in range(1, 10):
        base = base.unionByName(
            embeddings.withColumn("vec_id", F.col("vec_id") + F.lit(i * offset))
        )
    base = base.withColumn("embedding", F.col("embedding").cast("array<double>"))
    hot = F.transform(
        "embedding",
        lambda x, i: F.when(
            i == 0, F.lit(1.0) + F.col("vec_id").cast("double") / F.lit(1e9)
        ).otherwise(x * F.lit(0.001)),
    )
    skewed = base.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 2 == 0, hot).otherwise(F.col("embedding")),
    ).localCheckpoint()
    cents = ivf_fit_spread(base, "embedding", "vec_id", 8)
    queries = base.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        out = ivf_knn_join(
            queries, skewed, k=3, cells=8, nprobe=8,
            corpus_id_col="vec_id", centroids=cents,
        )
        out.collect()  # drive the SAME query execution to its final plan
        assert "skew=true" in executed_plan(out)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_remove_duplicate_lines_plan_shape(documents):
    """Line-level dedup must stay linear: one generate (the posexplode),
    a LeftSemi equi-join of lines against the under-threshold set, and
    hash aggregates — never a pair join, cartesian, or Python. All
    exchanges key on high-cardinality columns (line text / doc id)."""
    from kaer_spark.operators.dedup import remove_duplicate_lines

    plan = executed_plan(remove_duplicate_lines(documents, sep=" ", min_docs=390))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # the lines explode feeds two branches (doc-frequency + rebuild);
    # anything beyond 2 means a rewrite re-introduced a third corpus pass
    assert plan.count("Generate ") <= 2
    assert "Exchange SinglePartition" not in plan


def test_remove_duplicate_passages_plan_shape(documents):
    """Passage removal keeps the report's linear envelope: one explode of
    the window fingerprints, the fp and content counts as windows on the
    fp and content partitionings, the gaps-and-islands windows on the id
    partitioning — no pair join, no cartesian, no Python beyond the one
    fingerprint UDF, no single-reducer stage."""
    from kaer_spark.operators.dedup import remove_duplicate_passages

    plan = executed_plan(remove_duplicate_passages(documents, length=24))
    assert "CartesianProduct" not in plan
    assert_python_only_fphash(plan)
    assert plan.count("ArrowEvalPython") == 1
    assert "hashpartitioning(fp#" in plan and "hashpartitioning(wstr#" in plan
    assert "Exchange SinglePartition" not in plan


def test_dedup_keep_best_broadcasts_small_cluster_side(documents):
    """dedup_keep_best: the cluster/representative sides are pairs-only
    (orders of magnitude smaller than the corpus), so both the member
    join and the final anti-join must plan as broadcasts at fixture
    scale — the corpus is never reshuffled just to drop losers."""
    from kaer_spark.operators.dedup import dedup_keep_best

    clusters = documents.limit(20).select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 5).alias("cluster_id")
    )
    df = dedup_keep_best(documents, clusters, score_col="n_chars")
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert has_broadcast_join(df)
    # the corpus-side anti join must be broadcast, not sort-merge
    assert "SortMergeJoin LeftAnti" not in plan


def test_duplicate_passages_no_expand_distinct(documents):
    """The report's mixed countDistinct+count+min used to plan an Expand
    (row set ×2 before the shuffle, measured 3.6× slower at sf0.1); the
    two-level aggregate shape must keep Expand out of the plan."""
    from kaer_spark.operators.dedup import duplicate_passages

    plan = executed_plan(duplicate_passages(documents, length=24, min_docs=2))
    assert "Expand" not in plan
    assert_python_only_fphash(plan)
    assert "Exchange SinglePartition" not in plan


def test_passage_overlap_between_plan_shape(documents):
    """Cross-corpus passage probe: both corpora hash in one fingerprint
    UDF over their tagged union, and the both-sides test is a window on
    the fp partitioning — no cartesian, no Python beyond the one
    fingerprint UDF, no single-reducer stage."""
    from kaer_spark.operators.dedup import passage_overlap_between

    left = documents.filter(F.col("doc_id") % 2 == 0)
    right = documents.filter(F.col("doc_id") % 2 == 1)
    plan = executed_plan(passage_overlap_between(left, right, length=24))
    assert "CartesianProduct" not in plan
    assert_python_only_fphash(plan)
    assert plan.count("ArrowEvalPython") == 1
    assert "hashpartitioning(fp#" in plan
    assert "Exchange SinglePartition" not in plan


def test_shard_assign_no_global_window(documents):
    """The balanced-shard rank is two-phase: a rangepartitioning exchange
    (the scalable global-sort machinery) + a per-range row_number — never
    a one-reducer global window, cartesian, or Python. The offset join
    broadcasts the ≤rank_partitions-row side."""
    from kaer_spark.operators.packing import shard_assign

    df = shard_assign(documents, 8)
    plan = executed_plan(df)
    assert "rangepartitioning" in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert has_broadcast_join(df)


def test_final_plan_carries_codegen_spans(spark, sf_dir):
    """The PLANS.md codegen column must carry signal (r14 verdict #6:
    158/191 rows read 0 spans because the digest read the UNEXECUTED
    AQE plan, which prints `isFinalPlan=false` without `*(n)` markers —
    a codegen regression like the r12 flat-unroll incident would have
    been invisible exactly where the digest should catch it): on the
    materialized FINAL plan, the TPC-H family shows whole-stage spans."""
    import __spark_entry__ as entrymod

    from kaer_spark.plans.inspect import explain_summary

    qs = entrymod.queries()
    for name in ("tpch_q1", "tpch_q6"):
        s = explain_summary(qs[name](spark, sf_dir), materialize=True)
        assert s["wholestage_spans"] >= 1, (name, s)


def test_global_ranked_no_global_window(spark):
    """[r17] util.global_ranked (the stats operators' quantile-selection
    core) must carry NO unpartitioned Window and no single-partition
    sort: range-partition exchange + per-partition rank + offsets
    (r16 verdict wrong #3 — the old Window.orderBy funneled the whole
    doc/bucket set through one reducer). Also pins bit-exactness: the
    two-level ranks equal the naive global window's ranks."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kaer_spark.operators.util import global_ranked
    from kaer_spark.plans.inspect import executed_plan

    df = spark.range(0, 500).select(
        (F.col("id") % 37).alias("sz"), F.col("id").alias("id")
    )
    ranked = global_ranked(df, [F.col("sz").asc(), F.col("id").asc()])
    plan = executed_plan(ranked)
    windows = [ln for ln in plan.splitlines() if "Window" in ln]
    assert windows, "expected the per-partition rank Window in the plan"
    for ln in windows:
        assert "_gr_pid" in ln, f"global (unpartitioned) window:\n{ln}"
    # value contract: identical to the naive global rank
    naive = df.withColumn(
        "_rn",
        F.row_number().over(
            Window.orderBy(F.col("sz").asc(), F.col("id").asc())
        ).cast("long"),
    )
    assert sorted(map(tuple, ranked.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_stats_modules_never_rank_through_global_windows():
    """[r17] Source-level contract: the index-stats quantile selectors in
    dedup.py / text_index.py rank via util.global_ranked — a reintroduced
    row_number().over(Window.orderBy(...)) (no partitionBy) would revive
    the single-reducer funnel the r16 verdict flagged."""
    import re

    for path in (
        "/root/repo/kaer_spark/operators/dedup.py",
        "/root/repo/kaer_spark/operators/text_index.py",
    ):
        src = open(path).read()
        for m in re.finditer(r"Window\s*\.\s*orderBy", src):
            line = src[: m.start()].count("\n") + 1
            raise AssertionError(
                f"unpartitioned Window.orderBy at {path}:{line} — use "
                "util.global_ranked for rank selection"
            )


def _multi_split_scan(spark, tmp_path):
    path = str(tmp_path / "multi_split.parquet")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 40 * n).repartition(n).write.parquet(path)
    return spark.read.parquet(path)


_WIDEN_INPUTS = {
    "scan": _multi_split_scan,
    "groupBy": lambda spark, _: spark.range(0, 400)
    .groupBy((F.col("id") % 7).alias("k"))
    .count(),
    "broadcast_join": lambda spark, _: spark.range(0, 400).join(
        F.broadcast(spark.range(0, 10)), "id"
    ),
    "localCheckpoint": lambda spark, _: spark.range(0, 400, numPartitions=1)
    .localCheckpoint(eager=True),
}


@pytest.mark.parametrize("kind", list(_WIDEN_INPUTS))
def test_ensure_parallelism_decides_from_plan(spark, tmp_path, kind):
    """``ensure_parallelism`` decides from the physical plan and fires no
    Spark job: an AQE-rooted input (groupBy, broadcast join) is widened by
    exactly one round-robin exchange without probing its partition count,
    which would run its upstream as a separate execution; a multi-split
    scan is returned unchanged; a one-split checkpoint is widened."""
    from kaer_spark.operators.util import ensure_parallelism
    from kaer_spark.plans.inspect import executed_plan

    from tests.conftest import jobs_fired

    df = _WIDEN_INPUTS[kind](spark, tmp_path)
    with jobs_fired(spark) as fired:
        out = ensure_parallelism(df)
        plan = executed_plan(out)
    assert fired == [], f"{kind}: ensure_parallelism fired jobs {fired}"
    if kind == "scan":
        assert out is df
    else:
        assert plan.count("RoundRobinPartitioning") == 1, plan


def _large_multi_split_scan(spark, tmp_path):
    """A scan of one split per core whose estimate exceeds a round's
    bytes per core: random doubles, which parquet cannot compress."""
    from kaer_spark.operators.util import _ROUND_BYTES

    path = str(tmp_path / "large_multi_split.parquet")
    n = spark.sparkContext.defaultParallelism
    rows = n * (_ROUND_BYTES * 3 // 2 // 8)
    spark.range(0, rows).select(F.rand(7).alias("x")).repartition(n).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize(
    "kind", ["scan", "large_scan", "groupBy", "one_split", "python_rows"]
)
def test_size_python_stage_sizes_by_estimate(spark, tmp_path, kind):
    """``size_python_stage`` sizes a Python-worker stage and fires no Spark
    job: a small multi-split scan is coalesced to one partition; a scan
    with a split per core whose estimate needs more rounds than that
    comes back unchanged; an AQE-rooted input comes back unchanged, and
    AQE coalesces its small output to one partition; a one-split input
    estimated at 1.5 rounds' bytes is widened by round-robin to two; a
    frame built from a Python list, whose size Catalyst does not know,
    keeps the ``defaultParallelism`` widening."""
    from kaer_spark.operators.util import _ROUND_BYTES, size_python_stage

    from tests.conftest import jobs_fired

    cores = spark.sparkContext.defaultParallelism
    if kind == "scan":
        df, want = _multi_split_scan(spark, tmp_path), 1
        assert df.rdd.getNumPartitions() > 1 or cores == 1
    elif kind == "large_scan":
        df, want = _large_multi_split_scan(spark, tmp_path), cores
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        assert est > cores * _ROUND_BYTES and df.rdd.getNumPartitions() == cores
    elif kind == "groupBy":
        df, want = _WIDEN_INPUTS["groupBy"](spark, tmp_path), 1
    elif kind == "one_split":
        rows = _ROUND_BYTES * 3 // 2 // 8  # eight bytes a row
        df, want = spark.range(0, rows, numPartitions=1), min(2, cores)
    else:
        df = spark.createDataFrame([(i, "x") for i in range(8)], "id long, t string")
        want = cores
    with jobs_fired(spark) as fired:
        out = size_python_stage(df)
        plan = executed_plan(out)
    assert fired == [], f"{kind}: size_python_stage fired jobs {fired}"
    if kind in ("large_scan", "groupBy"):
        assert out is df
    assert out.rdd.getNumPartitions() == want
    widened = kind == "one_split" and want > 1
    assert plan.count("RoundRobinPartitioning") == (1 if widened else 0)


@pytest.mark.parametrize("op", ["minhash_signatures", "window_fps", "winnow"])
def test_fphash_stages_agree_across_round_counts(spark, documents, op, monkeypatch):
    """The MinHash signatures, window fingerprints and winnow selections
    are the same rows whether their Python-worker stage runs as one round
    (the small fixture) or as ``defaultParallelism`` rounds (a round's
    bytes lowered to one)."""
    import kaer_spark.operators.dedup as D
    from kaer_spark.operators import util
    from kaer_spark.operators.util import size_python_stage

    docs = documents.select("doc_id", "text")
    run = {
        "minhash_signatures": lambda: D.minhash_signatures(docs).select("id", "sig"),
        "window_fps": lambda: D._window_fp_explode(docs, "doc_id", "text", 24),
        "winnow": lambda: D.winnow_fingerprints(docs, k=16, window=8),
    }[op]
    cores = spark.sparkContext.defaultParallelism
    got = {}
    for round_bytes, rounds in ((util._ROUND_BYTES, 1), (1, cores)):
        monkeypatch.setattr(util, "_ROUND_BYTES", round_bytes)
        assert size_python_stage(docs).rdd.getNumPartitions() == rounds
        got[rounds] = sorted(map(tuple, run().collect()))
    assert got[1] and got[1] == got[cores]
