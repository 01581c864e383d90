"""Driver-contract invariants: every oracle belongs to a query, names are
unique, and the declared rows-only set stays the known MLlib/k-means five
(a new query accidentally missing its oracle should fail loudly here, not
silently downgrade to a rows-only check in the driver)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

# exactly the five genuinely MLlib-bound entries (r14: the GK-sketch
# corpus_profile_approx registry row was retired — quantiles_sampled is
# its oracle-checkable twin; the operator keeps pytest coverage in
# tests/test_pipelines.py)
DECLARED_ROWS_ONLY = {
    "ivf_knn",          # MLlib k-means fit
    "lsh_knn",          # MLlib random hyperplanes
    "lsh_similarity_join",
    "pq_knn",           # k-means codebooks
    "ivf_recall_sweep", # recall metric over the k-means index
}


def test_every_query_has_oracle_or_declared_contract():
    import __spark_entry__ as em

    qs, os_ = set(em.queries()), set(em.oracle_sql())
    assert os_ <= qs, f"orphan oracles: {os_ - qs}"
    assert qs - os_ == DECLARED_ROWS_ONLY, (
        f"undeclared rows-only queries: {(qs - os_) - DECLARED_ROWS_ONLY}"
    )


def test_bench_headline_subset_of_queries():
    import bench
    import __spark_entry__ as em

    missing = [n for n in bench.HEADLINE if n not in em.queries()]
    assert not missing, missing


def test_bench_json_line_fits_driver_tail_buffer():
    """The driver keeps only the tail of bench.py's output and parses the
    last JSON line from it; round 7's line (medians + mins + load) outgrew
    that buffer and BENCH_r07.json recorded parsed: null. Pin the
    worst-case serialized stdout line well under the observed ~2000-char
    capture window so adding headline queries fails here, not in the
    driver."""
    import json

    import bench

    worst = {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "value_min": 99999.999,
        "unit": "sec",
        "runs": 3,
        "loaded_start": False,
        "cpu_probe_sec": 0.1234,
        # [r18] only the PRIMARY mc-normalized ratio rides the line; the
        # raw and sc-normalized twins moved to detail-only (derivable
        # from the committed bench_detail.json) to restore pq_knn_join
        # and keep this budget with headroom
        "shared_min_ratio_normalized_mc": 0.123,
        "max_load_seen": 12.34,
        "contaminated_reps": 3,
        # [r17] the contamination-filtered total rides the line too (its
        # min-based twin stays detail-only for exactly this budget)
        "value_clean": 99999.999,
        # per-query ceiling 99.99: the heaviest row ever recorded is ~7s
        # median (14x headroom); stdout_queries rounds to 2 decimals, so
        # this is the realistic worst width per entry
        "queries": bench.stdout_queries({n: 99.99 for n in bench.HEADLINE}),
        "sf": 0.1,
    }
    # same serialization bench.py uses (compact separators)
    assert (
        len(json.dumps(worst, separators=(",", ":")))
        < bench._STDOUT_LINE_BUDGET
    )


# [r18] The stdout line's query-key SET, frozen (r17 verdict #2: a key
# rotating off the line breaks the driver's per-query cross-round series
# — it reads as a dropped query; r15, r16, and r17/pq_knn_join each did
# this). Adding NEW keys is allowed (append here in the same commit);
# removing or renaming an existing key fails this test by design — make
# room by shrinking non-query line fields instead (the r18 precedent:
# the two derivable canary ratios moved to detail-only).
PINNED_STDOUT_LINE_KEYS = {
    "tpch_total",
    "revenue_by_nation", "top_customers", "window_running", "events_json",
    "events_hourly", "time_bucket_rollup", "events_sessionize",
    "range_join_clicks", "knn_topk", "knn_filtered_and", "knn_join",
    "ivf_knn_det", "lsh_knn_det", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "simhash", "doc_fingerprint", "text_stats",
    "training_corpus_stats", "schemaless_exists", "bm25_scores",
    "pack_sequences", "shard_manifest", "cohort_retention", "sliding_7d",
    "top_quality_docs", "training_mix_packed", "ivf_knn_join",
    "bigram_lm_scores", "token_budget_mix", "subword_budget", "bpe_merges",
    "embedding_gram", "remove_repeated_lines", "dedup_minhash_between",
    "embedding_dups_between", "asof_nearest", "training_mix_tokens",
    "dsir_scores", "perplexity_buckets", "duplicate_passages",
    "remove_duplicate_passages", "semdedup", "dedup_cluster_build",
    "ivf_hard_negatives", "pq_knn_join", "contrastive_triplets_mine",
    "streaming_neardup_ingest", "streaming_embedding_ingest",
    "fuzzy_near_dups", "winnow_overlap", "pps_sample_chars",
    "quantiles_sampled", "hard_negatives", "mmr_rerank", "token_divergence",
    "zipf_profile", "bloom_decontam", "cdc_stats", "hll_orderkeys",
    "ngram_novelty", "cms_token_counts", "pmi_bigrams",
}


def test_stdout_line_query_keys_are_pinned():
    """No existing stdout-line per-query key may rotate to DETAIL_ONLY or
    leave HEADLINE — the driver's cross-round per-query series depends on
    line membership being stable (see PINNED_STDOUT_LINE_KEYS)."""
    import bench

    line_keys = set(
        bench.stdout_queries({n: 1.0 for n in bench.HEADLINE})
    )
    missing = PINNED_STDOUT_LINE_KEYS - line_keys
    assert not missing, (
        f"stdout-line keys rotated off the line: {sorted(missing)} — "
        "this breaks the driver's per-query series; shrink a non-query "
        "field instead"
    )


def test_det_ann_oracle_on_shifted_id_fixture(spark, tmp_path):
    """VERDICT r6 #3: the ANN oracles must not pin fixture shape. Rebuild a
    tiny synthetic fixture whose ids start at 1000 (NOT dense-from-0) and
    assert the knn_join query and its oracle still agree — both sides must
    derive the query set rank-limited (ORDER BY id LIMIT k), never from an
    id-literal cut."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em

    dim = len(em.QVEC)
    rows = []
    state = 11
    for i in range(30):
        vec = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (1 << 31)
            vec.append(round(state / float(1 << 31) - 0.5, 6))
        rows.append((1000 + i * 3, vec))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    spark.createDataFrame(
        [(vid, f"doc {vid}", "en", "src0", 10 + vid % 7) for vid, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")

    got = (
        em.queries()["knn_join"](spark, sf)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # Spark writes a directory of part files; glob inside it
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    want = (
        con.sql(em.oracle_sql()["knn_join"])
        .df()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got["query_id"].min() == 1000  # the shift actually took effect
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64"}), want.astype({"rank": "int64"})
    )


def test_window_rotation_is_stalest_first():
    """VERDICT r8 #2: the driver's 50-query window must rotate to the
    stalest driver evidence each round. queries() self-orders from the
    committed CORRECTNESS_r*.json artifacts; assert the ordering really
    is oldest-evidence-first (against an independent recompute), that
    never-checked queries lead, and that nothing outside the window is
    staler than anything inside it."""
    import glob
    import json
    import os
    import re

    import __spark_entry__ as em

    names = list(em.queries())
    # independent recompute of latest-green-round from the artifacts
    indep: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(em.__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for key in json.load(f):
                indep[key] = max(indep.get(key, 0), rnd)
    ages = [indep.get(n, 0) for n in names]
    assert ages == sorted(ages), "queries() is not ordered stalest-first"
    # the engine's own view agrees with the independent recompute
    latest = em._latest_driver_round()
    assert {n: latest.get(n, 0) for n in names} == {
        n: indep.get(n, 0) for n in names
    }
    window = names[:50]
    never = [n for n in names if indep.get(n, 0) == 0]
    if len(never) <= 50:
        assert set(never) <= set(window), "new queries must lead the window"
    if len(names) > 50:
        assert max(indep.get(n, 0) for n in window) <= min(
            indep.get(n, 0) for n in names[50:]
        )


def test_cross_round_ratios_use_burst_resistant_probes():
    """[r16] Cross-round normalization reads the BEST (min) canary of
    each run, preferring the recorded probe_best and falling back to
    min(before, after) for pre-r16 details: a single instantaneous probe
    under this box's foreign-load bursts flipped the mc-normalized
    reading between 0.73 and 1.28 for the SAME code. Self-comparison
    must read exactly 1.0 on every ratio."""
    import json
    import os

    import bench

    with open(os.path.join(os.path.dirname(bench.__file__),
                           "bench_detail.json")) as f:
        prev = json.load(f)
    sc, mc = bench._best_probes(
        prev["load"]["before"], prev["load"]["after"]
    )
    r = bench._cross_round_ratios(prev["queries_min"], sc, mc)
    assert r["shared_min_ratio"] == 1.0
    assert r["shared_min_ratio_normalized"] == 1.0
    assert r["shared_min_ratio_normalized_mc"] == 1.0
    # probe_best takes precedence over the before/after fallback
    assert bench._best_probes(
        {"cpu_probe_sec": 0.2, "cpu_probe_mc_sec": 2.0},
        {"cpu_probe_sec": 0.1, "cpu_probe_mc_sec": 1.0},
    ) == (0.1, 1.0)


def test_every_index_family_has_refresh_and_stats():
    """[r17] The O8/observability symmetry rule, frozen (r16 verdict #8):
    every at-rest index family the engine exports — every build_*_index
    across the operator modules — must export the matching refresh_*
    catch-up AND the *_index_stats health report in the same module.
    A new family landing without either fails here, not in a later
    round's verdict."""
    import importlib

    modules = [
        "kaer_spark.operators.dedup",
        "kaer_spark.operators.index_store",
        "kaer_spark.operators.text_index",
    ]
    families = []
    for modname in modules:
        mod = importlib.import_module(modname)
        for name in dir(mod):
            if name.startswith("build_") and name.endswith("_index"):
                stem = name[len("build_"):-len("_index")]
                families.append((mod, modname, name, stem))
    assert len(families) >= 7, [f[2] for f in families]
    missing = []
    for mod, modname, name, stem in families:
        if not callable(getattr(mod, f"refresh_{stem}_index", None)):
            missing.append(f"{modname}.refresh_{stem}_index")
        if not callable(getattr(mod, f"{stem}_index_stats", None)):
            missing.append(f"{modname}.{stem}_index_stats")
    assert not missing, missing


def test_every_exported_index_family_has_a_table_row():
    """Every build_*_index that dedup, index_store and text_index export
    has a row in ``context.INDEX_FAMILIES`` — the table every Collection
    lifecycle point loops over — and every callable a row holds is the
    binding its module exports under that name, which is what the
    Collection resolves at call time."""
    import importlib

    from kaer_spark.context import INDEX_FAMILIES

    exported = set()
    for modname in (
        "kaer_spark.operators.dedup",
        "kaer_spark.operators.index_store",
        "kaer_spark.operators.text_index",
    ):
        mod = importlib.import_module(modname)
        for name in dir(mod):
            if name.startswith("build_") and name.endswith("_index"):
                fn = getattr(mod, name)
                exported.add((fn.__module__, fn.__name__))
    rows = {(f.build.__module__, f.build.__name__) for f in INDEX_FAMILIES}
    assert len(exported) == 8 and exported <= rows, exported - rows
    for f in INDEX_FAMILIES:
        for fn in (f.build, f.refresh, f.stats, f.read_meta, f.against,
                   f.between):
            if fn is not None:
                assert getattr(sys.modules[fn.__module__], fn.__name__) is fn


def test_every_index_family_refresh_takes_a_keyword_only_batch():
    """``Collection.insert_df`` hands each owned family the id range it
    just wrote and the part files that hold it as ``batch=(lo, hi,
    files)``; every family's refresh must take it
    keyword-only, defaulting to None (the full catch-up)."""
    import inspect

    from kaer_spark.context import INDEX_FAMILIES

    for f in INDEX_FAMILIES:
        param = inspect.signature(f.refresh).parameters.get("batch")
        assert param is not None, f.key
        assert param.kind is inspect.Parameter.KEYWORD_ONLY, f.key
        assert param.default is None, f.key


def test_every_index_build_is_a_reset_then_its_refresh():
    """Each build_* in dedup, index_store and text_index writes no table
    itself: it calls no ``.write`` and returns its family's refresh_*, so
    every table of a family has one write path."""
    import ast
    import importlib

    builds = {}
    for modname in (
        "kaer_spark.operators.dedup",
        "kaer_spark.operators.index_store",
        "kaer_spark.operators.text_index",
    ):
        mod = importlib.import_module(modname)
        src = open(mod.__file__, encoding="utf-8").read()
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("build_"):
                builds[f"{modname}.{node.name}"] = node
    assert len(builds) == 8, sorted(builds)
    for name, node in builds.items():
        writes = [
            n.lineno for n in ast.walk(node)
            if isinstance(n, ast.Attribute) and n.attr == "write"
        ]
        assert not writes, f"{name} calls .write (line {writes})"
        ret = node.body[-1]
        refresh = "refresh_" + node.name[len("build_"):]
        assert (
            isinstance(ret, ast.Return)
            and isinstance(ret.value, ast.Call)
            and isinstance(ret.value.func, ast.Name)
            and ret.value.func.id == refresh
        ), f"{name} does not end in return {refresh}(...)"
