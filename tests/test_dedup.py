"""Dedup family: exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding
cosine — determinism + cross-checks against brute-force Python."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kaer_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_near_dups,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different content about spark shuffles and parquet"),
        (4, "another unrelated sentence mentioning catalyst and tungsten"),
        (5, base + " with a small suffix"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(dup_docs):
    out = {r["rep_id"]: r["dup_count"] for r in exact_dedup(dup_docs, ["text"]).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert sum(out.values()) == 6
    assert len(out) == 5


def _py_jaccard(a: str, b: str, n: int) -> float:
    sa = {a[i : i + n] for i in range(len(a) - n + 1)}
    sb = {b[i : i + n] for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_pairs(dup_docs):
    rows = dup_docs.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_docs, n=5, threshold=0.4).collect()
    }
    # brute-force expectation
    want = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                jac = _py_jaccard(texts[i], texts[j], 5)
                if jac >= 0.4:
                    want[(i, j)] = jac
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_ngram_jaccard_hashed_postings_match_string_semantics(documents):
    """[r18] The inverted index shuffles xxhash64(shingle) instead of the
    shingle string (guide §2.3 narrowing). Pin the CAPPED path — doc-freq
    computed over hashes must keep/drop exactly the shingles the
    string-keyed semantics keeps/drops — against a pure-Python reference
    with the cap applied on strings, over the real sf fixture."""
    from collections import Counter

    n, mdf, th = 8, 20, 0.3
    rows = documents.limit(200).collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    sets = {
        i: {t[k : k + n] for k in range(len(t) - n + 1)}
        for i, t in texts.items()
        if len(t) >= n
    }
    df_counts = Counter(g for s in sets.values() for g in s)
    kept = {i: {g for g in s if df_counts[g] <= mdf} for i, s in sets.items()}
    want = {}
    ids = sorted(kept)
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            a, b = kept[i], kept[j]
            inter = len(a & b)
            if inter and inter / (len(a) + len(b) - inter) >= th:
                want[(i, j)] = inter / (len(a) + len(b) - inter)
    sub = documents.limit(200)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            sub, n=n, threshold=th, max_doc_freq=mdf
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_lsh_finds_near_dups(dup_docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dups(
            dup_docs, n=5, num_hashes=16, bands=4, threshold=0.4
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] == 1.0  # identical docs always collide
    # verified jaccard values are the exact ones
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    for (a, b), jac in out.items():
        assert abs(jac - _py_jaccard(texts[a], texts[b], 5)) < 1e-12
    # nothing below threshold leaks through verification
    assert all(j >= 0.4 for j in out.values())


def test_minhash_signature_determinism(dup_docs):
    s1 = {r["id"]: r["sig"] for r in minhash_signatures(dup_docs, n=5).collect()}
    s2 = {r["id"]: r["sig"] for r in minhash_signatures(dup_docs, n=5).collect()}
    assert s1 == s2
    assert s1[0] == s1[1]  # identical text → identical signature
    assert len(s1[0]) == 16


def test_simhash(dup_docs):
    out = {r["id"]: r["simhash"] for r in simhash(dup_docs).collect()}
    assert out[0] == out[1]
    assert all(0 <= v < 2**24 for v in out.values())
    # the wide (corpus-scale) fingerprint: same verdict, deterministic
    wide = {r["id"]: r["simhash"] for r in simhash(dup_docs, bits=60).collect()}
    assert wide[0] == wide[1] and all(0 <= v < 2**60 for v in wide.values())
    again = {r["id"]: r["simhash"] for r in simhash(dup_docs, bits=60).collect()}
    assert wide == again


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0], 0),   # near dup of 0
        (2, [0.0, 1.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0], 1),    # same dir as 0, different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(df, threshold=0.95).collect()}
    assert got == {(0, 1), (0, 3), (1, 3)}
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(df, threshold=0.95, block_col="label").collect()
    }
    assert blocked == {(0, 1)}


def test_word_unit_jaccard(spark):
    """unit='word' shingles: duplicate word sequences pair up even when
    char-level formatting differs slightly is NOT claimed — only exact
    word-trigram overlap counts."""
    from kaer_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence with other words entirely here"),
        ],
        "doc_id LONG, text STRING",
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.9, unit="word").collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] == 1.0


def test_dedup_clusters_transitive_closure(spark):
    """A~B, B~C, D~E: components {A,B,C} and {D,E}, labeled by min id —
    including the A-C edge that was never a candidate pair."""
    from kaer_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (3, 2)],  # dup + reversed edges welcome
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_matches_union_find(spark, documents):
    """Spark label propagation ≡ a Python union-find on the same edges,
    over the real minhash pair output."""
    from kaer_spark.operators.dedup import dedup_clusters, minhash_near_dups

    pairs = minhash_near_dups(documents, threshold=0.3)
    edges = [(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()]
    if not edges:
        import pytest

        pytest.skip("fixture produced no near-dup pairs at this SF")

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == want


def test_dedup_representatives_keeps_min_and_unpaired(spark):
    from kaer_spark.operators.dedup import dedup_clusters, dedup_representatives

    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in [1, 2, 3, 10, 11, 99]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = dedup_representatives(docs, dedup_clusters(pairs))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 10, 99]


def test_embedding_near_dups_lsh(spark, sf_dir):
    """Banded sign-LSH candidates: every reported pair is a true pair of the
    unblocked all-pairs result (precision 1 by exact verify), recall on the
    fixture's actual near-dup pairs is high, and band keys are
    high-cardinality (the scale fix vs label-blocking)."""
    from kaer_spark.operators.dedup import (
        embedding_near_dups_lsh,
        signlsh_band_key,
        signlsh_planes,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.35  # where the near-random fixture actually has pairs
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(
            embs, threshold=thr, bands=4, bits_per_band=4
        ).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(embs, threshold=thr).collect()
    }
    assert got <= truth               # exact verify: no false positives
    assert len(got) >= 0.3 * len(truth) and len(got) > 0
    # determinism: same seed → same pairs
    again = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(
            embs, threshold=thr, bands=4, bits_per_band=4
        ).collect()
    }
    assert got == again
    # the blocking key space is the full 2^bits per band, not ~10 labels
    planes = signlsh_planes(64, 4)
    n_keys = (
        embs.select(signlsh_band_key("embedding", planes).alias("k"))
        .distinct()
        .count()
    )
    assert n_keys > 10


def test_calibrate_signlsh_scaling_and_recall():
    """bits grows log2 with corpus size (bucket population pinned at the
    target), bands rises to hold the OR-of-ANDs recall, caps bound both."""
    import math

    from kaer_spark.operators.dedup import calibrate_signlsh

    prev_bits = 0
    for n in (1_000, 10_000, 100_000, 1_000_000, 10_000_000):
        bands, bits = calibrate_signlsh(n, threshold=0.95, target_bucket_rows=500)
        assert bits == max(1, math.ceil(math.log2(n / 500)))
        assert bits >= prev_bits
        prev_bits = bits
        # analytic recall at the threshold must meet the target
        p = 1.0 - math.acos(0.95) / math.pi
        assert 1.0 - (1.0 - p**bits) ** bands >= 0.9 - 1e-12
    # pathological inputs hit the caps instead of exploding the plane count
    bands, bits = calibrate_signlsh(10**12, threshold=0.5, target_bucket_rows=1)
    assert bits <= 24 and bands <= 64


def _lcg_vectors(n: int, dim: int, seed: int = 3) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random vectors (pure Python LCG, no RNG APIs)."""
    state = seed
    rows = []
    for i in range(n):
        vec = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (1 << 31)
            vec.append(state / float(1 << 31) - 0.5)
        rows.append((i, vec))
    return rows


def test_signlsh_calibrated_candidates_subquadratic(spark):
    """The SURVEY §6 amplification probe for the round-5 reservation: with
    corpus-size-adaptive calibration, candidate-pair count grows ~linearly
    in rows — the candidate FRACTION of all possible pairs must FALL as the
    corpus grows (a fixed bits_per_band keeps the fraction constant, i.e.
    quadratic growth)."""
    from kaer_spark.operators.dedup import calibrate_signlsh, signlsh_candidate_pairs

    n1, n10, dim, target = 300, 3000, 16, 50
    fractions = {}
    counts = {}
    for n in (n1, n10):
        df = spark.createDataFrame(
            _lcg_vectors(n, dim), "vec_id long, embedding array<double>"
        )
        bands, bits = calibrate_signlsh(n, threshold=0.95, target_bucket_rows=target)
        c = signlsh_candidate_pairs(
            df, bands=bands, bits_per_band=bits
        ).count()
        counts[n] = c
        fractions[n] = c / (n * (n - 1) / 2)
    assert counts[n10] > 0
    # sub-quadratic: fraction of the pair space shrinks with corpus size
    assert fractions[n10] < fractions[n1]
    # and well below quadratic growth (100× pairs for 10× rows)
    assert counts[n10] < 40 * max(counts[n1], 1)


def test_embedding_near_dups_lsh_autocalibrated(spark, sf_dir):
    """target_bucket_rows mode: same exact-verify guarantee (no false
    positives vs the all-pairs truth) with derived band geometry."""
    from kaer_spark.operators.dedup import embedding_near_dups_lsh

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.35
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(
            embs, threshold=thr, target_bucket_rows=64, recall_target=0.8
        ).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(embs, threshold=thr).collect()
    }
    assert got <= truth and len(got) > 0


def test_calibrate_signlsh_properties_fuzz():
    """Property fuzz over the calibration domain: for ANY corpus size,
    threshold, target and recall goal, the returned geometry satisfies the
    analytic recall bound (unless capped), keeps bits within the bucket
    contract, and stays inside the hard caps."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kaer_spark.operators.dedup import calibrate_signlsh

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**13),
        threshold=st.floats(min_value=0.5, max_value=0.999),
        target=st.integers(min_value=1, max_value=10**6),
        recall=st.floats(min_value=0.5, max_value=0.99),
    )
    def check(n, threshold, target, recall):
        bands, bits = calibrate_signlsh(
            n, threshold=threshold, target_bucket_rows=target,
            recall_target=recall,
        )
        assert 1 <= bits <= 24 and 1 <= bands <= 64
        # bucket contract: 2^bits >= n/target unless the bits cap bound it
        if bits < 24:
            assert (1 << bits) >= min(n / target, 2.0) * (1 - 1e-9)
        # recall contract: analytic recall meets the goal unless bands capped
        p = 1.0 - math.acos(threshold) / math.pi
        if bands < 64:
            assert 1.0 - (1.0 - p**bits) ** bands >= recall - 1e-9

    check()


def test_minhash_between_and_dedup_against(spark, dup_docs):
    """Cross-corpus near-dup detection: copies land in pairs regardless of
    which corpus holds them, within-corpus pairs are NOT emitted, and
    dedup_against keeps only the novel documents of the left corpus."""
    from kaer_spark.operators.dedup import dedup_against, minhash_near_dups_between

    base = "the quick brown fox jumps over the lazy dog again and again"
    new_crawl = spark.createDataFrame(
        [
            (100, base),                                  # copy of train 0/1
            (101, base.replace("lazy", "sleepy")),        # near-copy
            (102, "genuinely new text about shuffle-free bucketed joins"),
            (103, "another novel document with fresh content entirely"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_near_dups_between(
        new_crawl, dup_docs, threshold=0.5, n=5
    )
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    assert (100, 0) in got and (100, 1) in got
    assert all(lid >= 100 and rid < 100 for lid, rid in got)
    for r in pairs.collect():
        assert r["jaccard"] >= 0.5
    kept = sorted(
        r["doc_id"]
        for r in dedup_against(new_crawl, dup_docs, threshold=0.5, n=5).collect()
    )
    assert 102 in kept and 103 in kept and 100 not in kept
    # symmetric seeds: the same text in both corpora always collides
    assert any(lid == 100 for lid, _ in got)


def test_embedding_near_dups_between(spark, sf_dir):
    """Cross-corpus cosine near-dups: splitting the fixture in two and
    running the between variant must recover exactly the all-pairs truth
    pairs that straddle the split (precision 1 via exact verify, recall
    bounded by the same banding as the self-join variant)."""
    from kaer_spark.operators.dedup import embedding_near_dups_between

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.35
    lo = embs.filter(F.col("vec_id") < 250)
    hi = embs.filter(F.col("vec_id") >= 250)
    got = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dups_between(lo, hi, threshold=thr).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(embs, threshold=thr).collect()
        if r["id_a"] < 250 <= r["id_b"]
    }
    assert got <= truth and len(got) > 0
    assert all(lid < 250 <= rid for lid, rid in got)
    # determinism
    again = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dups_between(lo, hi, threshold=thr).collect()
    }
    assert got == again


def test_calibrate_signlsh_edge_inputs():
    """ADVICE r6: inputs the validation used to allow must not raise —
    threshold=-1 (p_band=0, formerly a ZeroDivisionError) returns the
    bands cap; recall_target outside (0,1) is now rejected loudly."""
    import pytest as _pytest

    from kaer_spark.operators.dedup import calibrate_signlsh

    bands, bits = calibrate_signlsh(10_000, threshold=-1.0)
    assert bands == 64 and 1 <= bits <= 24
    for bad in (1.0, 1.5, 0.0, -0.1):
        with _pytest.raises(ValueError):
            calibrate_signlsh(10_000, recall_target=bad)


def test_embedding_near_dups_lsh_calibrates_past_null_rows(spark):
    """ADVICE r6: a NULL embedding in the first-scanned row must not abort
    calibration (F.first now skips nulls) — and null rows simply never pair."""
    from kaer_spark.operators.dedup import embedding_near_dups_lsh

    rows = [(0, None), (1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(1)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(
            df, threshold=0.9, target_bucket_rows=2
        ).collect()
    }
    assert got == {(1, 2)}


def test_duplicate_passages_finds_shared_windows(spark):
    """Window-level exact dedup: a passage pasted into two otherwise
    distinct documents is reported (with the right doc/occurrence counts),
    unique text is not, and short docs are skipped."""
    from kaer_spark.operators.dedup import duplicate_passages

    boiler = "THIS LICENSE TEXT IS COPIED VERBATIM EVERYWHERE"  # 47 chars
    rows = [
        (1, "doc one starts here. " + boiler + " then diverges completely."),
        (2, boiler + " but document two continues its own way."),
        (3, "a totally unrelated document with no shared windows at all."),
        (4, "tiny"),  # < length → skipped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_passages(df, length=24, min_docs=2).collect()
    assert len(out) > 0
    # every reported window occurs in exactly docs 1 and 2
    for r in out:
        assert r["n_docs"] == 2 and r["rep_doc"] == 1
        assert r["n_occurrences"] >= 2
    # windows fully inside the 47-char boilerplate (47-24+1 = 24), plus one
    # spanning its trailing space (both docs follow the passage with ' ')
    assert len(out) == (len(boiler) - 24 + 1) + 1
    # python replay of one fingerprint: first window of the boilerplate
    # (the r10 paired-moduli widening: h1 * MOD2 + h2, ~60 bits)
    fp1 = fp2 = 0
    for ch in boiler[:24]:
        fp1 = (fp1 * 31 + ord(ch)) % 1_000_000_007
        fp2 = (fp2 * 131 + ord(ch)) % 1_000_000_009
    assert fp1 * 1_000_000_009 + fp2 in {r["fp"] for r in out}


def test_passage_verify_rejects_fingerprint_collisions(spark):
    """The passage transform re-checks flagged windows by exact content:
    with a deliberately degenerate fingerprint (monkeypatched moduli 7
    and 5 — almost everything collides), a window of the unrelated doc 3
    provably shares a fingerprint with doc 1 or doc 2, yet the transform
    still removes ONLY truly duplicated passages. This is the advice-r9
    failure mode (1e12 windows vs 1e9 buckets at 100 TB) reproduced in
    miniature."""
    import kaer_spark.operators.dedup as dd

    rows = [
        (1, "the shared duplicate passage!! plus doc one tail material"),
        (2, "the shared duplicate passage!! and two's own continuation"),
        (3, "completely different body text with no real duplication"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    saved = (dd.HASH_MOD, dd.HASH_MOD2)
    dd.HASH_MOD, dd.HASH_MOD2 = 7, 5  # 35 fingerprint values total
    try:
        fps: dict[int, set] = {}
        for r in dd._window_fp_explode(df, "doc_id", "text", 10).collect():
            fps.setdefault(r["id"], set()).add(r["fp"])
        verified = {
            r["doc_id"]: r
            for r in dd.remove_duplicate_passages(
                df, length=10, min_docs=2
            ).collect()
        }
    finally:
        dd.HASH_MOD, dd.HASH_MOD2 = saved
    # the degenerate hash DOES collide a doc-3 window into the flag set
    assert fps[3] & (fps[1] | fps[2])
    # doc 3 shares no real window: verification must leave it untouched
    assert verified[3]["text_clean"] == rows[2][1]
    assert verified[3]["n_chars_removed"] == 0
    # the true duplicate passage is still excised from docs 1 and 2
    assert verified[1]["n_chars_removed"] > 0
    assert verified[2]["n_chars_removed"] > 0
    assert "shared duplicate passage" not in verified[1]["text_clean"]


# ---------------------------------------------------------------------------
# quality-aware representatives / keep-best / line & passage removal
# ---------------------------------------------------------------------------
def test_cluster_representatives_score_and_ties(spark):
    """Highest score wins; score ties break to min id; score_col=None
    reproduces the min-id policy of dedup_representatives."""
    from kaer_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, 1.0), (5, 7.0), (9, 2.0)],
        "doc_id long, score double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id long, cluster_id long"
    )
    reps = {
        r["cluster_id"]: (r["kept_id"], r["sz"])
        for r in cluster_representatives(
            docs, clusters, score_col="score"
        ).collect()
    }
    # cluster 1: scores 5, 9, 9 → tie between 2 and 3 → min id 2
    assert reps[1] == (2, 3)
    # cluster 4: 7.0 beats 1.0 → doc 5 despite larger id
    assert reps[4] == (5, 2)
    none_reps = {
        r["cluster_id"]: r["kept_id"]
        for r in cluster_representatives(docs, clusters).collect()
    }
    assert none_reps == {1: 1, 4: 4}


def test_cluster_representatives_string_ids_and_null_scores(spark):
    """Arbitrary orderable id types work (the score, not the id, carries
    the ordering trick), and null scores always lose to scored members."""
    from kaer_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [("a", None), ("b", 3.0), ("c", None), ("x", None), ("y", None)],
        "doc_id string, score double",
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")],
        "id string, cluster_id string",
    )
    reps = {
        r["cluster_id"]: r["kept_id"]
        for r in cluster_representatives(
            docs, clusters, score_col="score"
        ).collect()
    }
    assert reps["a"] == "b"  # the only scored member wins
    assert reps["x"] == "x"  # all-null cluster falls back to min id


def test_dedup_keep_best_filters_corpus(spark):
    """One best-scoring survivor per cluster, unclustered docs untouched;
    with uniformly tied scores the result matches dedup_representatives."""
    from kaer_spark.operators.dedup import dedup_keep_best, dedup_representatives

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 1.0), (4, 2.0), (7, 0.0)],
        "doc_id long, score double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, cluster_id long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_best(docs, clusters, score_col="score").collect()
    )
    assert kept == [2, 4, 7]  # best of {1,2,3} + both unclustered
    tied = docs.withColumn("score", F.lit(1.0))
    a = sorted(r["doc_id"] for r in dedup_keep_best(tied, clusters, score_col="score").collect())
    b = sorted(r["doc_id"] for r in dedup_representatives(tied, clusters).collect())
    assert a == b == [1, 4, 7]


def test_remove_duplicate_lines_threshold_and_edges(spark):
    """min_docs boundary is exact (df == min_docs dropped, df == min_docs-1
    kept), a line repeated only WITHIN one doc survives (distinct-doc
    count), and an all-boilerplate doc rebuilds to ('', n, 0)."""
    from kaer_spark.operators.dedup import remove_duplicate_lines

    rows = [
        (1, "boiler\nunique one\ntwice in this doc\ntwice in this doc"),
        (2, "boiler\nunique two\npair line"),
        (3, "boiler\npair line"),
        (4, "boiler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_docs=4: only 'boiler' (df=4) goes; 'pair line' (df=2) stays
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_lines(df, min_docs=4).collect()
    }
    assert out[1]["text_clean"] == "unique one\ntwice in this doc\ntwice in this doc"
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 3
    assert out[3]["text_clean"] == "pair line"
    assert out[4]["text_clean"] == "" and out[4]["n_lines"] == 1 and out[4]["n_kept"] == 0
    # min_docs=2: 'pair line' now also removed; within-doc repeat still kept
    out2 = {
        r["doc_id"]: r for r in remove_duplicate_lines(df, min_docs=2).collect()
    }
    assert out2[1]["text_clean"] == "unique one\ntwice in this doc\ntwice in this doc"
    assert out2[3]["text_clean"] == "" and out2[3]["n_kept"] == 0


def test_remove_duplicate_lines_regex_sep_join(spark):
    """A regex split pattern with an explicit literal join_sep rebuilds
    clean text (the ADVICE r8 corruption case)."""
    from kaer_spark.operators.dedup import remove_duplicate_lines

    rows = [(1, "boiler\r\nkeep A\nkeep B"), (2, "boiler\r\nother")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_duplicate_lines(
            df, min_docs=2, sep="\r?\n", join_sep="\n"
        ).collect()
    }
    assert out[1] == "keep A\nkeep B"  # no raw "\r?\n" inserted
    assert out[2] == "other"


def test_remove_duplicate_passages_merges_spans(spark):
    """Overlapping flagged windows merge into one excised span; python
    replay of the expected rebuilt text; unique/short docs pass through."""
    from kaer_spark.operators.dedup import remove_duplicate_passages

    boiler = "COPIED LICENSE BLOCK X7"  # > length=10 → many overlapping windows
    rows = [
        (1, "alpha " + boiler + " omega"),
        (2, "start " + boiler + " finish " + boiler),
        (3, "no shared content in this document"),
        (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_passages(df, length=10, min_docs=2).collect()}
    # doc 3 and the short doc are untouched
    assert out[3]["text_clean"] == rows[2][1] and out[3]["n_spans"] == 0
    assert out[4]["text_clean"] == "tiny" and out[4]["n_chars_removed"] == 0
    # flagged docs lose the shared block (plus boundary windows into the
    # surrounding spaces, which both docs share) as ONE merged span each
    assert out[1]["n_spans"] == 1
    assert boiler not in out[1]["text_clean"]
    assert out[1]["text_clean"].startswith("alpha")
    assert out[1]["text_clean"].endswith("omega")
    # removal accounting is exact: len(text) == len(clean) + removed
    for d in (1, 2, 3):
        assert len(rows[d - 1][1]) == len(out[d]["text_clean"]) + out[d]["n_chars_removed"]
    # doc 2 contains the block twice -> up to two disjoint spans (the
    # trailing copy reaches the doc end)
    assert out[2]["n_spans"] == 2
    assert boiler not in out[2]["text_clean"]


def test_passage_overlap_between_and_removal_against(spark):
    """Cross-corpus passage contamination: the report counts exactly the
    left windows whose content exists verbatim in the right corpus, and
    the against-transform excises those spans (and only those) —
    python-replayed on a constructed fixture."""
    from kaer_spark.operators.dedup import (
        passage_overlap_between,
        remove_duplicate_passages_against,
    )

    leak = "SECRET EVAL ANSWER 42XYZ"  # 24 chars at length=12: many windows
    left_rows = [
        (1, "prefix " + leak + " suffix"),     # contaminated in the middle
        (2, "totally clean document body!!"),  # no overlap
        (3, leak),                             # fully contaminated
        (4, "tiny"),                           # < length → absent from report
    ]
    right_rows = [(100, "training copy: " + leak + " end")]
    left = spark.createDataFrame(left_rows, "doc_id long, text string")
    right = spark.createDataFrame(right_rows, "doc_id long, text string")

    L = 12
    rep = {
        r["doc_id"]: r
        for r in passage_overlap_between(left, right, length=L).collect()
    }
    assert 4 not in rep  # too short to hold one window
    assert rep[2]["n_flagged"] == 0 and rep[2]["flagged_fraction"] == 0.0
    # python replay of the flagged counts
    right_fps = {
        right_rows[0][1][i : i + L]
        for i in range(len(right_rows[0][1]) - L + 1)
    }
    for d in (1, 2, 3):
        text = left_rows[d - 1][1]
        wins = [text[i : i + L] for i in range(len(text) - L + 1)]
        expect = sum(w in right_fps for w in wins)
        assert rep[d]["n_windows"] == len(wins)
        assert rep[d]["n_flagged"] == expect, d
        assert rep[d]["flagged_fraction"] == expect / len(wins)
    assert rep[3]["flagged_fraction"] == 1.0

    out = {
        r["doc_id"]: r
        for r in remove_duplicate_passages_against(
            left, right, length=L
        ).collect()
    }
    assert leak not in out[1]["text_clean"]
    assert out[1]["text_clean"].startswith("prefix")
    assert out[1]["text_clean"].endswith("suffix")
    assert out[2]["text_clean"] == left_rows[1][1]  # clean doc untouched
    assert out[3]["text_clean"] == "" and out[3]["n_spans"] == 1
    assert out[4]["text_clean"] == "tiny"  # short doc passes through
    for d in (1, 2, 3, 4):
        assert len(left_rows[d - 1][1]) == len(out[d]["text_clean"]) + out[d]["n_chars_removed"]

    # a null id takes no part in verification on either side: a null-id
    # right row verifies nothing, and null-id left rows pass through
    # once each, never paired with one another's text
    left = spark.createDataFrame(
        [(1, leak), (None, "a " + leak), (None, leak + " b")], "doc_id long, text string"
    )
    null_right = spark.createDataFrame([(None, "copy " + leak)], "doc_id long, text string")
    assert passage_overlap_between(left, null_right, length=L).filter(
        "doc_id = 1"
    ).first()["n_flagged"] == 0
    for rows, cleaned in ((null_right, leak), (null_right.unionByName(right), "")):
        out = remove_duplicate_passages_against(left, rows, length=L).collect()
        assert sorted((r["doc_id"] or 0, r["text_clean"]) for r in out) == sorted(
            [(1, cleaned), (0, "a " + leak), (0, leak + " b")]
        )


def test_semdedup_cell_scoped_groups_and_keep_far(spark):
    """SemDeDup semantics on a constructed fixture: duplicate groups form
    only WITHIN a cell (similar vectors split across cells stay), exactly
    one keep per group, keep='far' retains the member farthest from its
    centroid (ties min id), keep='min_id' the smallest id."""
    import pytest

    from kaer_spark.operators.dedup import semdedup

    # two tight groups in opposite half-spaces + two singletons; ids are
    # hash-spread-fit-friendly (any 2 rows work as centroids since the
    # two groups dominate assignment geometry)
    rows = [
        (1, [10.0, 0.0, 0.0]), (2, [10.5, 0.1, 0.0]), (3, [11.5, 0.0, 0.1]),
        (4, [0.0, 10.0, 0.0]), (5, [0.0, 10.4, 0.2]),
        (6, [0.0, 0.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semdedup(df, cells=2, threshold=0.99).collect()}
    assert len(out) == 6
    # singleton 6 and any unclustered rows keep=True
    assert out[6]["keep"] and out[6]["cluster_id"] is None
    # each duplicate cluster keeps exactly one member
    by_cluster: dict = {}
    for r in out.values():
        if r["cluster_id"] is not None:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "expected at least one duplicate cluster"
    for members in by_cluster.values():
        assert sum(m["keep"] for m in members) == 1
        # members of one cluster always share a cell (pairs are cell-scoped)
        assert len({m["cell"] for m in members}) == 1
    # min_id policy keeps the smallest id of each cluster
    out2 = {r["vec_id"]: r for r in semdedup(df, cells=2, threshold=0.99, keep="min_id").collect()}
    for cid, members in by_cluster.items():
        ids = sorted(m["vec_id"] for m in members)
        assert out2[ids[0]]["keep"]
        assert all(not out2[i]["keep"] for i in ids[1:])
    with pytest.raises(ValueError):
        semdedup(df, keep="random")


def test_dedup_cluster_stats_python_replay(spark):
    """Audit numbers ≡ python: counts, duplicates-to-remove, largest
    cluster with min-id tie-break, decimal-exact mean."""
    from kaer_spark.operators.dedup import dedup_cluster_stats

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (20, 20), (21, 20), (22, 20)],
        "id long, cluster_id long",
    )
    r = dedup_cluster_stats(clusters).collect()[0]
    assert r["n_clusters"] == 3
    assert r["n_docs_clustered"] == 8
    assert r["n_duplicates"] == 5
    assert r["max_size"] == 3
    assert r["largest_cluster"] == 1  # size tie (3 vs 3) → min cluster id
    assert r["mean_size"] == 8 / 3


def test_remove_repeated_lines_python_replay(spark):
    """Intra-doc repetition: a line occurring min_repeats+ times in ONE
    document keeps only its first occurrence; milder repetition and all
    unique lines survive in order; blank lines elide; cross-document
    repetition alone is untouched (that is remove_duplicate_lines' job)."""
    import pytest

    from kaer_spark.operators.dedup import remove_repeated_lines

    rows = [
        (1, "nav\nalpha\nnav\nbeta\nnav"),    # nav ×3 → keep first only
        (2, "x\ny\nx"),                        # x ×2 < min_repeats=3 → keep both
        (3, "nav\nnav\nnav\nnav"),             # all repeats → one survives
        (4, "solo\n\n \nlines"),               # blanks elide
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_kept"])
        for r in remove_repeated_lines(df, min_repeats=3).collect()
    }
    assert got[1] == ("nav\nalpha\nbeta", 5, 3)
    assert got[2] == ("x\ny\nx", 3, 3)
    assert got[3] == ("nav", 4, 1)
    assert got[4] == ("solo\nlines", 2, 2)
    assert got[5] == ("", 0, 0)
    # min_repeats=2 = strict within-doc line dedup (keep first of any dup)
    strict = {
        r["doc_id"]: r["text_clean"]
        for r in remove_repeated_lines(df, min_repeats=2).collect()
    }
    assert strict[2] == "x\ny"
    with pytest.raises(ValueError):
        remove_repeated_lines(df, min_repeats=1)


def test_dedup_clusters_distributed_path_matches_driver_path(spark):
    """max_driver_edges=0 forces the distributed min-label propagation;
    its fixpoint must equal the driver union-find's labels exactly (both
    claim cluster_id = component minimum), including a chain whose
    diameter needs several propagation rounds."""
    from kaer_spark.operators.dedup import dedup_clusters

    # a 7-node path graph (worst diameter), a triangle, and a pair
    edges = [(i, i + 1) for i in range(1, 7)] + [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = {
        (r["id"], r["cluster_id"]) for r in dedup_clusters(pairs).collect()
    }
    dist = {
        (r["id"], r["cluster_id"])
        for r in dedup_clusters(pairs, max_driver_edges=0).collect()
    }
    assert drv == dist
    assert (7, 1) in drv and (22, 20) in drv and (31, 30) in drv


# ---------------------------------------------------------------------------
# fuzzy_near_dups (r11): complete edit-distance similarity join
# ---------------------------------------------------------------------------
def _py_lev(a: str, b: str) -> int:
    d = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        prev, d[0] = d[0], i
        for j in range(1, len(b) + 1):
            cur = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return d[-1]


def _py_fuzzy_truth(rows, max_edits, key_len):
    import itertools
    import re

    keyed = sorted(
        (i, re.sub(r"\s+", " ", t).strip().lower()[:key_len].ljust(key_len))
        for i, t in rows
        if t.strip()
    )
    return {
        (ia, ib, _py_lev(ka, kb))
        for (ia, ka), (ib, kb) in itertools.combinations(keyed, 2)
        if _py_lev(ka, kb) <= max_edits
    }


def test_fuzzy_near_dups_equals_brute_force(spark):
    """The segment blocking is COMPLETE at the threshold: blocked join +
    levenshtein verify ≡ exhaustive quadratic, on an adversarial set
    (in-place substitutions, deletions that shift every later segment,
    edits concentrated in one segment)."""
    from kaer_spark.operators.dedup import fuzzy_near_dups

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # tail subst
        (3, "the quick crown fox jumps over the lazy dog"),   # mid subst
        (4, "he quick brown fox jumps over the lazy dog"),    # head delete
        (5, "thee quick brown fox jumps over the lazy dog"),  # head insert
        (6, "xy quick brown fox jumps over the lazy dog"),    # 2 edits head
        (7, "completely different text with no relation at all"),
        (8, "the  quick   brown fox\tjumps over the lazy dog"),  # ws only
        (9, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),   # case only
        (10, "ab"),
        (11, "ac"),   # short pair, distance 1 after padding
        (12, "   "),  # blank: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, klen in [(1, 32), (2, 32), (3, 24)]:
        got = {
            (r["id_a"], r["id_b"], r["edit_distance"])
            for r in fuzzy_near_dups(
                df, max_edits=k, key_len=klen
            ).collect()
        }
        assert got == _py_fuzzy_truth(rows, k, klen), (k, klen)


def test_fuzzy_near_dups_property(spark):
    """Randomized completeness: on small random strings over a tiny
    alphabet (maximizing near-collisions), blocked ≡ brute force."""
    import random

    from kaer_spark.operators.dedup import fuzzy_near_dups

    rng = random.Random(11)
    rows = [
        (i, "".join(rng.choice("ab ") for _ in range(rng.randint(1, 14))))
        for i in range(60)
    ]
    rows = [(i, t) for i, t in rows if t.strip()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in fuzzy_near_dups(df, max_edits=2, key_len=12).collect()
    }
    assert got == _py_fuzzy_truth(rows, 2, 12)


def test_fuzzy_near_dups_cap_and_validation(spark):
    import pytest as _pytest

    from kaer_spark.operators.dedup import fuzzy_near_dups

    rows = [(i, f"shared boilerplate header {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # all 20 share every early segment; a tiny cap kills those keys and,
    # since ALL matches route through capped keys, the result empties —
    # the documented recall trade, never silent by default
    full = fuzzy_near_dups(df, max_edits=1, key_len=24)
    capped = fuzzy_near_dups(df, max_edits=1, key_len=24, max_key_df=2)
    assert full.count() > 0 and capped.count() == 0
    with _pytest.raises(ValueError, match="max_edits"):
        fuzzy_near_dups(df, max_edits=0)
    with _pytest.raises(ValueError, match="key_len"):
        fuzzy_near_dups(df, max_edits=7, key_len=8)


def test_ngram_containment_catches_quotes_jaccard_misses(spark):
    """A short passage embedded verbatim in a long article: containment
    of the quote in the article ≈ 1 while Jaccard stays tiny — the
    asymmetric relation this operator exists for. Scores replayed in
    Python on the same distinct-shingle sets."""
    from kaer_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, filler[: len(filler) // 2] + " " + quote + " " + filler),
        (3, "entirely unrelated content with no shared substrings at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_containment_pairs(df, n=8, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]

    def sh(t):
        return {t[i : i + 8] for i in range(len(t) - 7)}

    s1, s2 = sh(rows[0][1]), sh(rows[1][1])
    inter = len(s1 & s2)
    assert got[0]["containment_a_in_b"] == inter / len(s1)
    assert got[0]["containment_b_in_a"] == inter / len(s2)
    assert got[0]["containment_a_in_b"] > 0.9  # quote ⊂ article
    # ...and Jaccard at the same strength misses the pair entirely
    jac = ngram_jaccard_pairs(df, n=8, threshold=0.9).collect()
    assert jac == []


def test_ngram_containment_cap_shares_jaccard_semantics(spark):
    """With max_doc_freq, sizes are recomputed over KEPT shingles (the
    documented cap semantics shared with the Jaccard scorer through
    _shingle_pair_counts)."""
    from kaer_spark.operators.dedup import ngram_containment_pairs

    rows = [
        (1, "common common common common rare1 rare1 rare1"),
        (2, "common common common common rare1 rare1 rare1"),
        (3, "common common common common other other other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_containment_pairs(
            df, n=6, threshold=0.99, unit="char"
        ).collect()
    }
    assert (1, 2) in uncapped and (1, 3) not in uncapped


# ---------------------------------------------------------------------------
# winnowing (r11): MOSS sampled fingerprints
# ---------------------------------------------------------------------------
def _py_winnow(text, k, w):
    MOD1, B1, MOD2, B2 = 1_000_000_007, 31, 1_000_000_009, 131
    if len(text) < k:
        return set()
    cs = [ord(c) for c in text]
    n = len(text) - k + 1
    hs = []
    for i in range(n):
        h1 = h2 = 0
        for j in range(k):
            h1 = (h1 + cs[i + j] * pow(B1, k - 1 - j, MOD1)) % MOD1
            h2 = (h2 + cs[i + j] * pow(B2, k - 1 - j, MOD2)) % MOD2
        hs.append(h1 * MOD2 + h2)
    sel = set()
    for j in range(max(n - w + 1, 1)):
        win = hs[j : j + w]
        m = min(win)
        # rightmost occurrence of the min
        p = j + max(i for i, h in enumerate(win) if h == m)
        sel.add((p, hs[p]))
    return sel


def test_winnow_matches_python_replay(spark):
    """Selected (pos, fp) ≡ an independent Python winnower, including the
    rightmost-tie rule (periodic text makes hash ties real) and the
    truncated-window convention for short docs."""
    from kaer_spark.operators.dedup import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "abababababababababababab"),     # periodic: equal hashes, ties
        (3, "exactly sixteen!"),             # len == k: one hash
        (4, "short doc here yes"),           # fewer hashes than window
        (5, "x" * 40),                       # constant: all hashes equal
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=16, window=8).collect():
        got.setdefault(r["id"], set()).add((r["pos0"], r["fp"]))
    for did, text in rows:
        assert got.get(did, set()) == _py_winnow(text, 16, 8), did


def test_winnow_guarantee_and_density(documents):
    """The winnowing guarantee: docs sharing a (k+window-1)-char passage
    share ≥1 selected fingerprint — checked via the exact passage report
    at the guarantee length; density stays near 2/(w+1)."""
    from kaer_spark.operators.dedup import (
        _window_fp_explode,
        winnow_fingerprints,
        winnow_overlap_pairs,
    )
    from pyspark.sql import functions as SF

    k, w = 16, 8
    t = k + w - 1  # 23
    # pairs of docs sharing an exact 23-char window
    shared = (
        _window_fp_explode(documents, "doc_id", "text", t)
        .select("id", "fp")
        .distinct()
    )
    truth_pairs = {
        (r["id_a"], r["id_b"])
        for r in shared.alias("a")
        .join(shared.alias("b"), "fp")
        .filter(SF.col("a.id") < SF.col("b.id"))
        .select(SF.col("a.id").alias("id_a"), SF.col("b.id").alias("id_b"))
        .distinct()
        .collect()
    }
    win_pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(
            documents, k=k, window=w, min_shared=1
        ).collect()
    }
    assert truth_pairs <= win_pairs, truth_pairs - win_pairs
    sel = winnow_fingerprints(documents, k=k, window=w).count()
    total = documents.selectExpr(
        f"sum(greatest(length(text) - {k - 1}, 0))"
    ).first()[0]
    assert 1.2 / (w + 1) < sel / total < 3.5 / (w + 1)


def test_fuzzy_between_equals_brute_force(spark):
    """Cross-corpus edit-distance blocking ≡ brute-force cross product,
    and within-corpus pairs never appear."""
    import itertools
    import re

    from kaer_spark.operators.dedup import fuzzy_near_dups_between

    left = [
        (2, "the quick brown fox jumps over the lazy dog"),
        (4, "an entirely separate left document"),
        (6, "shared nearly identical text body"),
    ]
    right = [
        (1, "the quick brown fox jumps over the lazy cat"),
        (3, "shared nearly identical text bodX"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (7, "an entirely separate left documen"),  # 1 deletion from id 4
    ]
    ldf = spark.createDataFrame(left, "doc_id long, text string")
    rdf = spark.createDataFrame(right, "doc_id long, text string")
    got = {
        (r["left_id"], r["right_id"], r["edit_distance"])
        for r in fuzzy_near_dups_between(
            ldf, rdf, max_edits=2, key_len=32
        ).collect()
    }

    def norm(t):
        return re.sub(r"\s+", " ", t).strip().lower()[:32].ljust(32)

    truth = {
        (li, ri, _py_lev(norm(lt), norm(rt)))
        for (li, lt), (ri, rt) in itertools.product(left, right)
        if _py_lev(norm(lt), norm(rt)) <= 2
    }
    assert got == truth and len(truth) >= 3
    # strictly cross-corpus: no left-left ids even though 2 and 6 differ
    assert all(l % 2 == 0 and r % 2 == 1 for l, r, _ in got)


def test_winnow_between_matches_global_selection(documents):
    """Cross-corpus winnowed overlap over the parity split ≡ winnowing
    the whole corpus once and pairing across the split (selection is a
    per-document function of its own text)."""
    from pyspark.sql import functions as SF

    from kaer_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_between,
    )

    even = documents.filter(SF.col("doc_id") % 2 == 0)
    odd = documents.filter(SF.col("doc_id") % 2 == 1)
    got = {
        (r["left_id"], r["right_id"], r["n_shared"])
        for r in winnow_overlap_between(
            even, odd, k=16, window=8, min_shared=3
        ).collect()
    }
    sel = winnow_fingerprints(documents, k=16, window=8).select(
        "id", "fp"
    ).distinct()
    truth = {
        (r["left_id"], r["right_id"], r["n_shared"])
        for r in sel.alias("a")
        .join(sel.alias("b"), "fp")
        .filter((SF.col("a.id") % 2 == 0) & (SF.col("b.id") % 2 == 1))
        .groupBy(
            SF.col("a.id").alias("left_id"), SF.col("b.id").alias("right_id")
        )
        .agg(SF.count("*").alias("n_shared"))
        .filter(SF.col("n_shared") >= 3)
        .collect()
    }
    assert got == truth and len(got) > 0


# --- content-defined chunking ----------------------------------------------


def _py_cdc(text, w, divisor):
    """Python replay of cdc_chunks: [(start, length, fp)] per doc."""
    from kaer_spark.operators.dedup import (
        HASH_BASE,
        HASH_BASE2,
        HASH_MOD,
        HASH_MOD2,
    )

    codes = [ord(c) for c in text]
    n = len(codes)
    if n == 0:
        return []

    def winfp(i):  # 1-based start, width w
        h1 = h2 = 0
        for c in codes[i - 1 : i - 1 + w]:
            h1 = (h1 * HASH_BASE + c) % HASH_MOD
            h2 = (h2 * HASH_BASE2 + c) % HASH_MOD2
        return h1 * HASH_MOD2 + h2

    cuts = sorted(
        {0, n}
        | {
            i + w - 1
            for i in range(1, n - w + 2)
            if winfp(i) % divisor == 0
        }
    )
    out = []
    for s, e in zip(cuts, cuts[1:]):
        h1 = h2 = 0
        for c in codes[s:e]:
            h1 = (h1 * HASH_BASE + c) % HASH_MOD
            h2 = (h2 * HASH_BASE2 + c) % HASH_MOD2
        out.append((s, e - s, h1 * HASH_MOD2 + h2))
    return out


@pytest.fixture(scope="module")
def cdc_fixture(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs far "
                "away into the deep dark woods tonight under a pale moon "
                "while owls watch from the branches above the silent river"),
            (2, "the quick brown fox jumps over the lazy dog and runs far "
                "away into the deep dark woods tonight under a pale moon "
                "while owls watch from the branches above the silent river"),
            (3, "the quick brown XX fox jumps over the lazy dog and runs far "
                "away into the deep dark woods tonight under a pale moon "
                "while owls watch from the branches above the silent river"),
            (4, "tiny"),
            (5, ""),
            # non-ASCII rows: cut positions come from the window-hash UDF's
            # code points, chunk slices from Spark's split(text, '') — these
            # pin the two sources to agree past the BMP and on accents/CJK
            (6, "café naïve façade résumé — déjà vu über straße, crème "
                "brûlée à la carte, señor jalapeño, Ångström, Øresund"),
            (7, "日本語のテキストを内容定義チャンク分割で重複検出する試験"
                "です。日本語のテキストを内容定義チャンク分割で重複検出"),
            (8, "emoji 😀🎉 astral 𝕏𝕐 pairs 😀🎉 and more 🚀🌍 mixed "
                "with plain text 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 tail 🎉😀 𝕏𝕐🚀 end"),
        ],
        "doc_id long, text string",
    )


def test_cdc_chunks_replay_exactly(spark, cdc_fixture):
    from kaer_spark.operators.dedup import cdc_chunks

    got = {}
    for r in cdc_chunks(cdc_fixture, w=8, divisor=16).collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_len"], r["chunk_fp"])
        )
    for rs in got.values():
        rs.sort()
    want = {
        r["doc_id"]: [
            (i, s, ln, fp)
            for i, (s, ln, fp) in enumerate(_py_cdc(r["text"], 8, 16))
        ]
        for r in cdc_fixture.collect()
        if r["text"]
    }
    assert got == want
    assert 5 not in got  # empty doc contributes nothing
    assert len(got[4]) == 1 and got[4][0][2] == 4  # shorter than w: one chunk


def test_cdc_insertion_resynchronizes(spark, cdc_fixture):
    """The whole point of CDC: after a small insertion, every chunk past
    one window of the edit is IDENTICAL (fixed-width blocks would shift
    all of them)."""
    from kaer_spark.operators.dedup import cdc_chunks

    ch = cdc_chunks(cdc_fixture, w=8, divisor=16).collect()
    fps1 = {r["chunk_fp"] for r in ch if r["id"] == 1}
    fps3 = {r["chunk_fp"] for r in ch if r["id"] == 3}
    fps2 = {r["chunk_fp"] for r in ch if r["id"] == 2}
    assert fps1 == fps2  # exact dup: identical chunk set
    shared = fps1 & fps3
    assert shared  # the edited doc still shares the resynced tail chunks
    # the shared chunks cover most of the unedited doc's bytes
    lens = {r["chunk_fp"]: r["chunk_len"] for r in ch if r["id"] == 1}
    assert sum(lens[f] for f in shared) >= sum(lens.values()) * 0.5


def test_cdc_stats_match_python(spark, cdc_fixture):
    from kaer_spark.operators.dedup import cdc_dedup_stats

    rows = [r for r in cdc_fixture.collect() if r["text"]]
    chunks = [c for r in rows for c in _py_cdc(r["text"], 8, 16)]
    by_fp = {}
    for s, ln, fp in chunks:
        by_fp.setdefault(fp, [0, ln])[0] += 1
    total = sum(cnt * ln for cnt, ln in by_fp.values())
    distinct = sum(ln for _, ln in by_fp.values())
    got = cdc_dedup_stats(cdc_fixture, w=8, divisor=16).collect()[0]
    assert got["n_chunks"] == len(chunks)
    assert got["n_distinct_chunks"] == len(by_fp)
    assert got["total_chars"] == total
    assert got["distinct_chars"] == distinct
    assert got["dedup_ratio"] == 1.0 - distinct / total


def test_cluster_holdout_split_no_straddle(spark):
    """Near-dup-aware split: every cluster lands whole on one side,
    unclustered docs split independently, the assignment is deterministic,
    and raising test_permille only GROWS the test side (monotone)."""
    from kaer_spark.operators.dedup import cluster_holdout_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # clusters: {0,1,7}, {10,11}, {42,43,44} (labels = min id)
    members = [(0, 0), (1, 0), (7, 0), (10, 10), (11, 10), (42, 42), (43, 42), (44, 42)]
    clusters = spark.createDataFrame(members, "id long, cluster_id long")
    out = cluster_holdout_split(docs, clusters, test_permille=300)
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200 and set(rows.values()) <= {"test", "train"}
    for cid, group in ((0, [0, 1, 7]), (10, [10, 11]), (42, [42, 43, 44])):
        assert len({rows[i] for i in group}) == 1, cid  # no straddle
    # deterministic across calls
    again = {r["doc_id"]: r["split"] for r in
             cluster_holdout_split(docs, clusters, test_permille=300).collect()}
    assert rows == again
    # monotone: the 30% test set contains the 10% one
    small = {r["doc_id"] for r in
             cluster_holdout_split(docs, clusters, test_permille=100)
             .filter("split = 'test'").collect()}
    big = {d for d, s in rows.items() if s == "test"}
    assert small <= big and small and big - small


def test_split_leakage_and_holdout_is_leak_free(spark):
    """split_leakage surfaces exactly the straddling near-dup pairs of a
    naive row-level split — and over cluster_holdout_split's assignment
    the report is EMPTY (leak-free by construction)."""
    from kaer_spark.operators.dedup import (
        cluster_holdout_split,
        split_leakage,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 7), (10, 11), (20, 23)], "id_a long, id_b long"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (7, 0), (10, 10), (11, 10), (20, 20), (23, 20)],
        "id long, cluster_id long",
    )
    naive = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    leaks = {(r["id_a"], r["id_b"]) for r in split_leakage(pairs, naive).collect()}
    assert leaks == {(0, 1), (0, 7), (10, 11), (20, 23)}  # all odd-even pairs
    safe = cluster_holdout_split(docs, clusters, test_permille=400).select(
        "doc_id", "split"
    )
    assert split_leakage(pairs, safe).count() == 0


def test_split_leakage_partial_split_table_fails_loud(spark):
    """A pair member missing from the split table must SURFACE (split
    '?'), not silently vanish from the contamination report (r13 verdict:
    both joins were INNER — the fail-open direction, same hazard class as
    the r12 Bloom/CMS fixes). A complete table returns exactly the old
    rows (pinned by test_split_leakage_and_holdout_is_leak_free)."""
    from kaer_spark.operators.dedup import split_leakage

    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 9)], "id_a long, id_b long"
    )
    # id 3 and id 9 have no split label (split computed over a subset)
    splits = spark.createDataFrame(
        [(0, "train"), (1, "test"), (2, "train"), (4, "train")],
        "doc_id long, split string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["split_a"], r["split_b"])
        for r in split_leakage(pairs, splits).collect()
    }
    assert got[(0, 1)] == ("train", "test")       # genuine straddle kept
    assert got[(2, 3)] == ("train", "?")          # unknown surfaces
    assert got[(4, 9)] == ("train", "?")
    assert len(got) == 3
    # both members missing: still reported, both '?'
    lone = spark.createDataFrame([(7, 8)], "id_a long, id_b long")
    out = split_leakage(lone, splits).collect()
    assert len(out) == 1
    assert (out[0]["split_a"], out[0]["split_b"]) == ("?", "?")


def test_cluster_holdout_split_rejects_non_integer_ids(spark):
    """Non-numeric ids cast to NULL inside the LCG bucket and used to land
    silently in 'train' (r13 advice) — now they raise per row."""
    from kaer_spark.operators.dedup import cluster_holdout_split

    docs = spark.createDataFrame(
        [("a1", "x"), ("b2", "y")], "doc_id string, text string"
    )
    clusters = spark.createDataFrame([], "id string, cluster_id string")
    with pytest.raises(Exception, match="not an integer"):
        cluster_holdout_split(docs, clusters, id_col="doc_id").collect()
    # numeric ids carried as strings also raise only when NOT castable:
    # castable strings pass through the long cast unchanged
    docs_num = spark.createDataFrame(
        [("10", "x"), ("11", "y")], "doc_id string, text string"
    )
    out = cluster_holdout_split(docs_num, clusters, id_col="doc_id")
    assert {r["split"] for r in out.collect()} <= {"test", "train"}


def test_ngram_jaccard_indexed_equals_fresh(spark, tmp_path):
    """Serving pairs from the at-rest shingle index must be value-identical
    to the from-text operator over the built corpus with the built
    parameters (cap applied at build with the same doc freqs); a
    half-built artifact (no sidecar) fails loud."""
    from kaer_spark.operators.dedup import (
        build_shingle_index,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_indexed,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a completely different document about spark shuffles"),
        (4, "a completely different document about spark shuffle plans"),
        (5, "the quick brown fox jumps over the lazy dog once more"),
        (6, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for mdf in (None, 4):
        path = str(tmp_path / f"shidx_{mdf}")
        build_shingle_index(docs, path, n=8, max_doc_freq=mdf)
        fresh = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, n=8, threshold=0.3, max_doc_freq=mdf
            ).collect()
        }
        served = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs_indexed(
                spark, path, threshold=0.3
            ).collect()
        }
        assert served == fresh and fresh, mdf
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        ngram_jaccard_pairs_indexed(spark, str(tmp_path / "nope"), 0.3)


def test_ngram_containment_indexed_equals_fresh(spark, tmp_path):
    """One artifact feeds both scorers: containment served from the
    shingle index equals the from-text operator exactly."""
    from kaer_spark.operators.dedup import (
        build_shingle_index,
        ngram_containment_pairs,
        ngram_containment_pairs_indexed,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "prefix text then the quick brown fox jumps over the lazy dog "
            "again and again plus a long unrelated tail about spark plans"),
        (3, "a completely different document about warehouse bucketing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "shidx_c")
    build_shingle_index(docs, path, n=8)
    fresh = sorted(
        map(tuple, ngram_containment_pairs(docs, n=8, threshold=0.5).collect())
    )
    served = sorted(
        map(
            tuple,
            ngram_containment_pairs_indexed(spark, path, threshold=0.5).collect(),
        )
    )
    assert served == fresh and fresh


def _shingle_docs(spark, upto=None):
    """Near-dup family sharing many 8-grams (so the doc-freq cap bites on
    the UNION but not on the id<6 prefix alone), plus singletons."""
    base = "the quick brown fox jumps over the lazy dog while spark shuffles"
    rows = [(i, base + f" tail {i % 3}") for i in range(10)] + [
        (100, "completely unrelated text about warehouse bucketing plans"),
        (101, "another unrelated document concerning catalyst optimizers"),
    ]
    if upto is not None:
        rows = [r for r in rows if r[0] < upto]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingle_rows(spark, path):
    import os

    post = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "postings")).collect())
    )
    sizes = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "sizes")).collect())
    )
    return post, sizes


def test_refresh_shingle_index_equals_rebuild(spark, tmp_path):
    """O8 catch-up for the LAST at-rest index family: build on the id
    prefix, refresh with the full corpus — postings/sizes row-identical
    to a from-scratch build, and BOTH indexed scorers value-identical to
    the from-text operators over the union. The cap fixture is chosen so
    shared shingles are over-cap only in the UNION (each appears in ≤5
    prefix docs but in 10 full-corpus docs), so a refresh that froze the
    prefix's hot set — the v1 failure mode — returns wrong pairs."""
    from kaer_spark.operators.dedup import (
        build_shingle_index,
        ngram_containment_pairs,
        ngram_containment_pairs_indexed,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_indexed,
        read_shingle_index_meta,
        refresh_shingle_index,
    )

    docs = _shingle_docs(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    for mdf in (6, None):
        inc_p, full_p = f"{inc}_{mdf}", f"{full}_{mdf}"
        build_shingle_index(
            _shingle_docs(spark, upto=6), inc_p, n=8, max_doc_freq=mdf
        )
        assert read_shingle_index_meta(inc_p)["max_id"] == 5
        meta = refresh_shingle_index(docs, inc_p)
        assert meta["max_id"] == 101 and len(meta["df_segments"]) == 2
        build_shingle_index(docs, full_p, n=8, max_doc_freq=mdf)
        assert _shingle_rows(spark, inc_p) == _shingle_rows(spark, full_p)
        fresh_j = sorted(map(tuple, ngram_jaccard_pairs(
            docs, n=8, threshold=0.3, max_doc_freq=mdf
        ).collect()))
        served_j = sorted(map(tuple, ngram_jaccard_pairs_indexed(
            spark, inc_p, threshold=0.3
        ).collect()))
        assert served_j == fresh_j and fresh_j, mdf
        fresh_c = sorted(map(tuple, ngram_containment_pairs(
            docs, n=8, threshold=0.5, max_doc_freq=mdf
        ).collect()))
        served_c = sorted(map(tuple, ngram_containment_pairs_indexed(
            spark, inc_p, threshold=0.5
        ).collect()))
        assert served_c == fresh_c and fresh_c, mdf
        # no-op refresh: nothing above the watermark, tables untouched
        before = _shingle_rows(spark, inc_p)
        refresh_shingle_index(docs, inc_p)
        assert _shingle_rows(spark, inc_p) == before


def test_shingle_index_corr_table_matches_postings(spark, tmp_path):
    """The precomputed serve-time size correction (``corr/<tag>``,
    written with the hot table at every watermark flip) must equal the
    aggregation it replaces — per-doc hot-shingle counts over the stored
    postings — after BOTH build and refresh, and the sidecar must point
    at the live corr dir (orphans swept like hot)."""
    import os

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_meta,
        refresh_shingle_index,
    )

    path = str(tmp_path / "corr_idx")
    build_shingle_index(_shingle_docs(spark, upto=6), path, n=8, max_doc_freq=6)
    refresh_shingle_index(_shingle_docs(spark), path)
    meta = read_shingle_index_meta(path)
    assert meta["corr_dir"] and os.path.isdir(os.path.join(path, "corr"))
    assert os.listdir(os.path.join(path, "corr")) == [
        os.path.basename(meta["corr_dir"])
    ]
    inv = spark.read.parquet(os.path.join(path, "postings"))
    hot = spark.read.parquet(os.path.join(path, meta["hot_dir"]))
    expected = sorted(
        map(tuple, inv.join(F.broadcast(hot), "g", "left_semi")
            .groupBy("id").agg(F.count("*").alias("hot_cnt")).collect())
    )
    stored = sorted(map(tuple, spark.read.parquet(
        os.path.join(path, meta["corr_dir"])
    ).collect()))
    assert stored == expected and expected


def test_refresh_shingle_index_replay_windows(spark, tmp_path):
    """Crash-replay idempotence for the list-of-segments state: (a) all
    writes landed but the sidecar flip did not — replay heals without
    duplicating postings/sizes rows and sweeps the orphaned grown-window
    df segment; (b) postings landed, sizes did not (postings write
    first) — replay heals sizes without double-appending postings. Also:
    a legacy v1 artifact refuses refresh loudly, and advance_to floors
    the watermark through the no-op path."""
    import glob
    import json
    import os

    import pytest as _pytest

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_meta,
        refresh_shingle_index,
    )

    docs = _shingle_docs(spark)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_shingle_index(_shingle_docs(spark, upto=6), inc, n=8, max_doc_freq=6)
    build_shingle_index(docs, full, n=8, max_doc_freq=6)
    stale = read_shingle_index_meta(inc)
    sz_glob = os.path.join(inc, "sizes", "*")
    pre_sz = set(glob.glob(sz_glob))

    # window (a): everything landed, sidecar stale
    refresh_shingle_index(docs, inc)
    with open(os.path.join(inc, "shingle_index.json"), "w") as f:
        json.dump(stale, f)
    replayed = refresh_shingle_index(docs, inc)
    assert replayed["max_id"] == 101
    assert _shingle_rows(spark, inc) == _shingle_rows(spark, full)
    # live segments listed, orphans swept
    assert sorted(os.listdir(os.path.join(inc, "df"))) == sorted(
        replayed["df_segments"]
    )
    assert os.listdir(os.path.join(inc, "hot")) == [
        os.path.basename(replayed["hot_dir"])
    ]

    # window (b): postings landed, sizes did not — delete the size files
    # the refresh added and wind the sidecar back
    for f_ in set(glob.glob(sz_glob)) - pre_sz:
        os.remove(f_)
    with open(os.path.join(inc, "shingle_index.json"), "w") as f:
        json.dump(stale, f)
    replayed = refresh_shingle_index(docs, inc)
    assert _shingle_rows(spark, inc) == _shingle_rows(spark, full)
    post = spark.read.parquet(os.path.join(inc, "postings"))
    assert post.count() == post.distinct().count()

    # served pairs still exact after both replays
    from kaer_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_indexed,
    )

    fresh = sorted(map(tuple, ngram_jaccard_pairs(
        docs, n=8, threshold=0.3, max_doc_freq=6
    ).collect()))
    served = sorted(map(tuple, ngram_jaccard_pairs_indexed(
        spark, inc, threshold=0.3
    ).collect()))
    assert served == fresh and fresh

    # advance_to floors the watermark through the no-op path
    replayed = refresh_shingle_index(docs, inc, advance_to=500)
    assert replayed["max_id"] == 500

    # legacy v1 artifact (no version key): refresh refuses loudly
    legacy = {k: v for k, v in stale.items()
              if k not in ("version", "max_id", "df_segments", "hot_dir")}
    with open(os.path.join(inc, "shingle_index.json"), "w") as f:
        json.dump(legacy, f)
    with _pytest.raises(ValueError, match="v1"):
        refresh_shingle_index(docs, inc)


def test_refreshable_index_id_types_fail_loud(spark, tmp_path):
    """Refreshable indexes accept int and string id columns only: a date
    id raises a clear TypeError at BUILD time (before r15 this surfaced
    as json.dump's TypeError at the sidecar write, after the data tables
    had already landed)."""
    import datetime

    import pytest as _pytest

    from kaer_spark.operators.dedup import build_minhash_index

    rows = [(datetime.date(2026, 1, i + 1), "doc text long enough for grams")
            for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id date, text string")
    with _pytest.raises(TypeError, match="int or string"):
        build_minhash_index(docs, str(tmp_path / "d"), n=8,
                            num_hashes=16, bands=4, seed=1)


def test_minhash_index_served_equals_from_text(spark, tmp_path):
    """The at-rest decontamination index: pairs and survivors served
    against the built reference equal minhash_near_dups_between /
    dedup_against over the same corpora exactly (same seeded math, same
    banding, same exact verify — params come from the sidecar)."""
    from kaer_spark.operators.dedup import (
        build_minhash_index,
        dedup_against,
        dedup_against_index,
        minhash_near_dups_against_index,
        minhash_near_dups_between,
    )

    base = "the quick brown fox jumps over the lazy dog while spark shuffles"
    rows = [(i, base + f" tail {i % 3}") for i in range(12)] + [
        (100, "completely unrelated text about warehouse bucketing plans"),
        (101, "another unrelated document concerning catalyst optimizers"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new, ref = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    path = str(tmp_path / "mh_idx")
    build_minhash_index(ref, path, n=8, num_hashes=16, bands=4, seed=42)

    fresh = sorted(map(tuple, minhash_near_dups_between(
        new, ref, n=8, num_hashes=16, bands=4, threshold=0.4, seed=42
    ).collect()))
    served = sorted(map(tuple, minhash_near_dups_against_index(
        spark, path, new, threshold=0.4
    ).collect()))
    assert served == fresh and fresh

    fresh_surv = sorted(r["doc_id"] for r in dedup_against(
        new, ref, n=8, num_hashes=16, bands=4, threshold=0.4, seed=42
    ).collect())
    served_surv = sorted(r["doc_id"] for r in dedup_against_index(
        spark, path, new, threshold=0.4
    ).collect())
    assert served_surv == fresh_surv


def test_signlsh_index_served_equals_from_vectors(spark, embeddings, tmp_path):
    """The at-rest embedding decontamination index: pairs served against
    the built reference equal embedding_near_dups_between over the same
    corpora exactly (planes re-derived from the sidecar geometry)."""
    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        embedding_dups_against_index,
        embedding_near_dups_between,
    )

    new = embeddings.filter("vec_id % 2 = 0")
    ref = embeddings.filter("vec_id % 2 = 1")
    path = str(tmp_path / "sl_idx")
    build_signlsh_index(ref, path, bands=4, bits_per_band=4, seed=7)
    fresh = sorted(map(tuple, embedding_near_dups_between(
        new, ref, threshold=0.3, bands=4, bits_per_band=4, seed=7
    ).collect()))
    served = sorted(map(tuple, embedding_dups_against_index(
        spark, path, new, threshold=0.3
    ).collect()))
    assert served == fresh and fresh


def _mh_rows(spark, path):
    import os

    bands = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "bands")).collect())
    )
    docs = sorted(
        (r["id"], r["text"])
        for r in spark.read.parquet(os.path.join(path, "docs")).collect()
    )
    return bands, docs


def _mh_docs(spark):
    base = "the quick brown fox jumps over the lazy dog while spark shuffles"
    rows = [(i, base + f" tail {i % 3}") for i in range(12)] + [
        (100, "completely unrelated text about warehouse bucketing plans"),
        (101, "another unrelated document concerning catalyst optimizers"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_refresh_minhash_index_equals_rebuild(spark, tmp_path):
    """O8 catch-up for the decontamination artifact: build on the id
    prefix, refresh with the full reference — bands and docs tables
    row-identical to a from-scratch build over the union (band keys are
    per-doc independent, so the append is exact, not approximate), and
    the served screening is value-identical too."""
    from kaer_spark.operators.dedup import (
        build_minhash_index,
        minhash_near_dups_against_index,
        read_minhash_index_meta,
        refresh_minhash_index,
    )

    docs = _mh_docs(spark)
    ref = docs.filter("doc_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_minhash_index(
        ref.filter("doc_id < 7"), inc, n=8, num_hashes=16, bands=4, seed=42
    )
    assert read_minhash_index_meta(inc)["max_id"] == 5
    meta = refresh_minhash_index(ref, inc)
    assert meta["max_id"] == 101
    build_minhash_index(ref, full, n=8, num_hashes=16, bands=4, seed=42)
    assert _mh_rows(spark, inc) == _mh_rows(spark, full)

    new = docs.filter("doc_id % 2 = 0")
    served_inc = sorted(map(tuple, minhash_near_dups_against_index(
        spark, inc, new, threshold=0.4
    ).collect()))
    served_full = sorted(map(tuple, minhash_near_dups_against_index(
        spark, full, new, threshold=0.4
    ).collect()))
    assert served_inc == served_full and served_inc

    # no-op refresh: nothing above the watermark, tables untouched
    before = _mh_rows(spark, inc)
    refresh_minhash_index(ref, inc)
    assert _mh_rows(spark, inc) == before


def test_refresh_minhash_index_replay_both_windows(spark, tmp_path):
    """Crash-replay idempotence, BOTH windows (the refresh_text_index
    discipline): (a) both appends landed but the watermark did not —
    replay flips the watermark only; (b) bands landed, docs did not
    (bands write first) — replay heals docs without duplicating band
    rows. Also covers the pre-watermark artifact: a sidecar with no
    max_id derives the watermark from the stored docs table."""
    import glob
    import json
    import os

    from kaer_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_index_meta,
        refresh_minhash_index,
    )

    docs = _mh_docs(spark)
    ref = docs.filter("doc_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_minhash_index(
        ref.filter("doc_id < 7"), inc, n=8, num_hashes=16, bands=4, seed=42
    )
    build_minhash_index(ref, full, n=8, num_hashes=16, bands=4, seed=42)
    stale = read_minhash_index_meta(inc)
    sh_glob = os.path.join(inc, "docs", "*")
    pre_refresh_sh = set(glob.glob(sh_glob))

    # window (a): both appends landed, watermark stale
    refresh_minhash_index(ref, inc)
    with open(os.path.join(inc, "minhash_index.json"), "w") as f:
        json.dump(stale, f)
    replayed = refresh_minhash_index(ref, inc)
    assert replayed["max_id"] == 101
    assert _mh_rows(spark, inc) == _mh_rows(spark, full)

    # window (b): bands landed, docs did not — delete the docs
    # files the refresh added and wind the meta back WITHOUT max_id
    # (pre-watermark artifact shape)
    for f_ in set(glob.glob(sh_glob)) - pre_refresh_sh:
        os.remove(f_)
    legacy = {k: v for k, v in stale.items() if k != "max_id"}
    with open(os.path.join(inc, "minhash_index.json"), "w") as f:
        json.dump(legacy, f)
    replayed = refresh_minhash_index(ref, inc)
    assert replayed["max_id"] == 101
    assert _mh_rows(spark, inc) == _mh_rows(spark, full)
    bands = spark.read.parquet(os.path.join(inc, "bands"))
    assert bands.count() == bands.select("id", "band", "key").distinct().count()


def test_minhash_index_old_layout_raises_and_rebuilds(spark, tmp_path):
    """An artifact of the older layout (per-document shingle arrays under
    shingles/, no docs/) is refused loudly by every reader, never served;
    a rebuild over the same path removes the stale table and serves the
    pairs of the from-text cross call, values included."""
    import os
    import shutil

    from kaer_spark.functions.text import char_shingles
    from kaer_spark.operators.dedup import (
        build_minhash_index,
        minhash_near_dups_against_index,
        minhash_near_dups_between,
        read_minhash_index_meta,
    )

    docs = _mh_docs(spark)
    ref, new = docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    path = str(tmp_path / "mh")
    build_minhash_index(ref, path, n=8, num_hashes=16, bands=4, seed=42)
    shutil.rmtree(os.path.join(path, "docs"))
    ref.select(
        F.col("doc_id").alias("id"), char_shingles("text", n=8).alias("shingles")
    ).write.parquet(os.path.join(path, "shingles"))
    with pytest.raises(ValueError, match="build_minhash_index"):
        read_minhash_index_meta(path)
    with pytest.raises(ValueError, match="build_minhash_index"):
        minhash_near_dups_against_index(spark, path, new, threshold=0.4)

    build_minhash_index(ref, path, n=8, num_hashes=16, bands=4, seed=42)
    assert sorted(os.listdir(path)) == ["bands", "docs", "minhash_index.json"]
    served = sorted(map(tuple, minhash_near_dups_against_index(
        spark, path, new, threshold=0.4
    ).collect()))
    fresh = sorted(map(tuple, minhash_near_dups_between(
        new, ref, n=8, num_hashes=16, bands=4, seed=42, threshold=0.4
    ).collect()))
    assert served == fresh and fresh


def test_refresh_signlsh_index_equals_rebuild_and_replay(
    spark, embeddings, tmp_path
):
    """The embedding twin: refresh ≡ rebuild row-identical through the
    sidecar-frozen planes; crash-replay appends nothing twice; a
    dimension-mismatched tail fails the append's write in-plan instead
    of hashing through the wrong planes, and leaves the table and the
    watermark as they were."""
    import json
    import os

    import pytest as _pytest

    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        embedding_dups_against_index,
        read_signlsh_index_meta,
        refresh_signlsh_index,
    )

    ref = embeddings.filter("vec_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_signlsh_index(
        ref.filter("vec_id < 200"), inc, bands=4, bits_per_band=4, seed=7
    )
    stale = read_signlsh_index_meta(inc)
    meta = refresh_signlsh_index(ref, inc)
    assert meta["max_id"] == ref.agg({"vec_id": "max"}).collect()[0][0]
    build_signlsh_index(ref, full, bands=4, bits_per_band=4, seed=7)

    def rows(path):
        return sorted(
            (r["right_id"], r["band"], r["key"], r["nr"], tuple(r["vr"]))
            for r in spark.read.parquet(os.path.join(path, "bands")).collect()
        )

    assert rows(inc) == rows(full)

    # crash window: append landed, watermark stale — replay is a no-op
    with open(os.path.join(inc, "signlsh_index.json"), "w") as f:
        json.dump(stale, f)
    refresh_signlsh_index(ref, inc)
    assert rows(inc) == rows(full)

    new = embeddings.filter("vec_id % 2 = 0")
    served_inc = sorted(map(tuple, embedding_dups_against_index(
        spark, inc, new, threshold=0.3
    ).collect()))
    served_full = sorted(map(tuple, embedding_dups_against_index(
        spark, full, new, threshold=0.3
    ).collect()))
    assert served_inc == served_full and served_inc

    # geometry guard: a wider tail must fail the write, not silently
    # mis-hash, and the failed refresh must leave no rows and no
    # advanced watermark behind
    wide2 = spark.createDataFrame(
        [(10**9, [0.0] * (stale["dim"] + 1))], "vec_id long, embedding array<double>"
    )
    before_max = read_signlsh_index_meta(inc)["max_id"]
    before_rows = spark.read.parquet(os.path.join(inc, "bands")).count()
    with _pytest.raises(Exception, match=f"not {stale['dim']}-dimensional"):
        refresh_signlsh_index(wide2, inc)
    assert read_signlsh_index_meta(inc)["max_id"] == before_max
    assert spark.read.parquet(os.path.join(inc, "bands")).count() == before_rows


def test_shingle_index_stats_report(spark, tmp_path):
    """Health report over a prefix-built + refreshed index (two df
    segments): counts replay from the raw corpus, the hot count reads
    the MERGED segments, and a v1-style sidecar refuses loudly."""
    import json
    import os

    import pytest as _pytest

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        refresh_shingle_index,
        shingle_index_stats,
    )

    docs = _shingle_docs(spark)
    path = str(tmp_path / "idx")
    build_shingle_index(_shingle_docs(spark, upto=6), path, n=8, max_doc_freq=6)
    refresh_shingle_index(docs, path)
    live = docs.union(
        spark.createDataFrame(
            [(500, "a brand new document past the watermark")],
            "doc_id long, text string",
        )
    )
    r = shingle_index_stats(spark, path, corpus=live).collect()[0]
    rows = docs.collect()
    from collections import Counter

    per_doc = {
        d: len({t[i:i + 8] for i in range(len(t) - 7)})
        for d, t in ((row["doc_id"], row["text"]) for row in rows)
        if len(t) >= 8
    }
    df_counts = Counter(
        g for d, t in ((row["doc_id"], row["text"]) for row in rows)
        if len(t) >= 8
        for g in {t[i:i + 8] for i in range(len(t) - 7)}
    )
    assert r["n_docs"] == len(per_doc)
    assert r["n_postings"] == sum(per_doc.values())
    assert r["n_distinct_shingles"] == len(df_counts)
    assert r["n_hot_shingles"] == sum(1 for c in df_counts.values() if c > 6)
    assert r["n_hot_shingles"] > 0  # the fixture's shared base is over-cap
    sizes = sorted(per_doc.values())
    nd = len(sizes)
    assert r["p50_doc_shingles"] == sizes[(nd + 1) // 2 - 1]
    assert r["p90_doc_shingles"] == sizes[(9 * nd + 9) // 10 - 1]
    assert r["max_doc_shingles"] == sizes[-1]
    assert r["watermark"] == 101 and r["watermark_lag"] == 399

    legacy = {"id_col": "doc_id", "text_col": "text", "n": 8,
              "unit": "char", "max_doc_freq": 6}
    with open(os.path.join(path, "shingle_index.json"), "w") as f:
        json.dump(legacy, f)
    with _pytest.raises(ValueError, match="v1"):
        shingle_index_stats(spark, path)


def test_shingle_index_stats_string_ids(spark):
    """ADVICE r16: stats over a STRING-keyed index (blessed by json_id)
    must not int()-coerce the watermark — it reports the watermark in
    the id column's own type and staleness as an ordering boolean
    instead of a numeric lag."""
    import tempfile

    from kaer_spark.operators.dedup import (
        build_shingle_index,
        shingle_index_stats,
    )

    docs = spark.createDataFrame(
        [
            ("doc-a", "the quick brown fox jumps over the lazy dog"),
            ("doc-b", "catalyst turns logical plans into physical ones"),
        ],
        "doc_id string, text string",
    )
    with tempfile.TemporaryDirectory() as path:
        build_shingle_index(docs, path, n=8, max_doc_freq=6)
        r = shingle_index_stats(spark, path, corpus=docs).collect()[0]
        assert r["watermark"] == "doc-b"
        assert "watermark_lag" not in r.asDict()
        assert r["is_stale"] is False
        live = docs.union(
            spark.createDataFrame(
                [("doc-z", "a new doc past the string watermark")],
                "doc_id string, text string",
            )
        )
        r2 = shingle_index_stats(spark, path, corpus=live).collect()[0]
        assert r2["is_stale"] is True
        # mixed domains refuse loudly instead of comparing garbage
        import pytest as _pytest

        intcorpus = spark.createDataFrame(
            [(5, "x")], "doc_id long, text string"
        )
        with _pytest.raises(ValueError, match="different domains"):
            shingle_index_stats(spark, path, corpus=intcorpus).collect()


def test_minhash_index_stats_report(spark, tmp_path):
    """Health report over a prefix-built + refreshed MinHash reference
    index: doc counts and shingle-size quantiles replay from the raw
    corpus in Python; bucket histogram/skew cross-check against a direct
    aggregation of the stored band table; staleness against a corpus."""
    from collections import Counter

    from kaer_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_stats,
        refresh_minhash_index,
    )

    rows = [
        (i, f"document number {i} about {'spark' if i % 2 else 'ducks'} "
            f"and the shared boilerplate tail every doc carries along")
        for i in range(1, 13)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "mh")
    build_minhash_index(
        docs.filter(F.col("doc_id") <= 6), path,
        n=8, num_hashes=16, bands=4, seed=42,
    )
    refresh_minhash_index(docs, path)
    live = docs.union(
        spark.createDataFrame([(99, "a doc past the watermark")],
                              "doc_id long, text string")
    )
    r = minhash_index_stats(spark, path, corpus=live).collect()[0]
    per_doc = {
        d: len({t[i:i + 8] for i in range(len(t) - 7)}) for d, t in rows
    }
    assert r["n_docs"] == len(per_doc)
    assert r["n_band_rows"] == len(per_doc) * 4
    sizes = sorted(per_doc.values())
    nd = len(sizes)
    assert r["p50_doc_shingles"] == sizes[(nd + 1) // 2 - 1]
    assert r["p90_doc_shingles"] == sizes[(9 * nd + 9) // 10 - 1]
    assert r["max_doc_shingles"] == sizes[-1]
    # bucket histogram vs a direct count over the stored band table
    bt = Counter(
        (row["band"], row["key"])
        for row in spark.read.parquet(str(tmp_path / "mh" / "bands")).collect()
    )
    bsizes = sorted(bt.values())
    nb = len(bsizes)
    assert r["n_buckets"] == nb
    assert r["max_bucket"] == bsizes[-1]
    assert r["bucket_skew"] == bsizes[-1] * nb / (len(per_doc) * 4)
    assert r["p50_bucket_sz"] == bsizes[(nb + 1) // 2 - 1]
    assert r["num_hashes"] == 16 and r["num_bands"] == 4
    assert r["watermark"] == 12 and r["watermark_lag"] == 87


def test_signlsh_index_stats_report(spark, tmp_path):
    """Embedding twin: vector count, norm spread (read from the stored
    rows, not re-derived), bucket histogram, geometry echo, staleness."""
    import math
    from collections import Counter

    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        refresh_signlsh_index,
        signlsh_index_stats,
    )

    vecs = [
        (i, [float(i), float(i % 3), 0.5, -1.0]) for i in range(1, 9)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "sl")
    build_signlsh_index(
        df.filter(F.col("vec_id") <= 4), path,
        bands=4, bits_per_band=2, seed=7,
    )
    refresh_signlsh_index(df, path)
    r = signlsh_index_stats(spark, path, corpus=df).collect()[0]
    assert r["n_vecs"] == 8
    assert r["n_band_rows"] == 8 * 4
    norms = sorted(
        math.sqrt(sum(x * x for x in v)) for _, v in vecs
    )
    assert r["min_norm"] == pytest.approx(norms[0], abs=0)
    assert r["max_norm"] == pytest.approx(norms[-1], abs=0)
    assert r["p50_norm"] == pytest.approx(norms[(8 + 1) // 2 - 1], abs=0)
    bt = Counter(
        (row["band"], row["key"])
        for row in spark.read.parquet(str(tmp_path / "sl" / "bands")).collect()
    )
    bsizes = sorted(bt.values())
    assert r["n_buckets"] == len(bsizes)
    assert r["max_bucket"] == bsizes[-1]
    assert r["dim"] == 4 and r["num_bands"] == 4 and r["bits_per_band"] == 2
    assert r["watermark"] == 8 and r["watermark_lag"] == 0


def _fuzzy_corpus(spark, upto=None):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog todaX"),  # 1 edit of 1
        (3, "completely different text about catalyst optimizers"),
        (4, "the quick brown fux jumps over the lazy dog today"),  # 1 edit of 1
        (5, "another unrelated document on watermarks and state"),
        (6, "completely different text about catalyst optimizerZ"),  # 1 edit of 3
    ]
    if upto is not None:
        rows = [r for r in rows if r[0] <= upto]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fuzzy_index_build_refresh_serve_parity(spark, tmp_path):
    """[r16] At-rest PassJoin artifact: build over a prefix + refresh
    with the full reference serves pairs VALUE-identical to the
    from-text cross operator over the full reference (shared
    segment/probe/verify bodies + sidecar-frozen geometry); replays of
    the refresh append nothing twice; a no-op refresh stamps the
    advance_to floor."""
    import json as _json
    import os as _os

    from kaer_spark.operators.dedup import (
        build_fuzzy_index,
        fuzzy_dups_against_index,
        fuzzy_near_dups_between,
        read_fuzzy_index_meta,
        refresh_fuzzy_index,
    )

    ref = _fuzzy_corpus(spark)
    probe = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog toda7"),
            (102, "nothing like anything stored in the reference set"),
            (103, "completely different text about catalyst optimizers"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "fz")
    build_fuzzy_index(_fuzzy_corpus(spark, upto=3), path,
                      max_edits=2, key_len=32)
    meta = refresh_fuzzy_index(ref, path)
    assert meta["max_id"] == 6

    served = sorted(map(tuple, fuzzy_dups_against_index(
        spark, path, probe
    ).collect()))
    fresh = sorted(map(tuple, fuzzy_near_dups_between(
        ref, probe, max_edits=2, key_len=32
    ).select(
        F.col("right_id").alias("left_id"),
        F.col("left_id").alias("right_id"),
        "edit_distance",
    ).collect()))
    assert served == fresh and served  # non-empty: 101 and 103 hit

    # replay idempotence: wind the watermark back (crash between append
    # and flip), re-refresh — segment rows must not double
    seg_dir = _os.path.join(path, "segments")
    n_rows = spark.read.parquet(seg_dir).count()
    meta = read_fuzzy_index_meta(path)
    meta["max_id"] = 3
    with open(_os.path.join(path, "fuzzy_index.json"), "w") as f:
        _json.dump(meta, f)
    refresh_fuzzy_index(ref, path)
    assert spark.read.parquet(seg_dir).count() == n_rows
    assert read_fuzzy_index_meta(path)["max_id"] == 6
    # served output identical after the replay
    assert sorted(map(tuple, fuzzy_dups_against_index(
        spark, path, probe
    ).collect())) == served

    # no-op refresh stamps the advance_to floor (screen-and-drop caller)
    refresh_fuzzy_index(ref, path, advance_to=50)
    assert read_fuzzy_index_meta(path)["max_id"] == 50

    # refresh ≡ rebuild: a from-scratch build over the union matches
    path2 = str(tmp_path / "fz_full")
    build_fuzzy_index(ref, path2, max_edits=2, key_len=32)
    assert sorted(map(tuple, fuzzy_dups_against_index(
        spark, path2, probe
    ).collect())) == served


def test_fuzzy_index_stats_report(spark, tmp_path):
    """Stats over a prefix-built + refreshed fuzzy index: doc/segment
    counts and bucket histogram replay in Python from the raw corpus;
    geometry echo + staleness typed by the id domain."""
    from collections import Counter

    from kaer_spark.operators.dedup import (
        build_fuzzy_index,
        fuzzy_index_stats,
        refresh_fuzzy_index,
    )

    docs = _fuzzy_corpus(spark)
    path = str(tmp_path / "fz")
    build_fuzzy_index(_fuzzy_corpus(spark, upto=3), path,
                      max_edits=2, key_len=24)
    refresh_fuzzy_index(docs, path)
    live = docs.union(
        spark.createDataFrame([(50, "past the watermark")],
                              "doc_id long, text string")
    )
    r = fuzzy_index_stats(spark, path, corpus=live).collect()[0]

    import re
    keys = {}
    for d, t in _fuzzy_corpus(spark).collect():
        norm = re.sub(r"\s+", " ", t).strip().lower()
        if not norm:
            continue
        keys[d] = (norm[:24] + " " * 24)[:24]
    bounds = [(0, 8), (8, 8), (16, 8)]
    bt = Counter(
        (i, k[p:p + l]) for k in keys.values()
        for i, (p, l) in enumerate(bounds)
    )
    bsizes = sorted(bt.values())
    nb = len(bsizes)
    assert r["n_docs"] == len(keys)
    assert r["n_seg_rows"] == len(keys) * 3
    assert r["n_buckets"] == nb
    assert r["max_bucket"] == bsizes[-1]
    assert r["bucket_skew"] == bsizes[-1] * nb / (len(keys) * 3)
    assert r["p50_bucket_sz"] == bsizes[(nb + 1) // 2 - 1]
    assert r["p90_bucket_sz"] == bsizes[(9 * nb + 9) // 10 - 1]
    assert r["max_edits"] == 2 and r["key_len"] == 24
    assert r["watermark"] == 6 and r["watermark_lag"] == 44


def test_ngram_jaccard_between_matches_bruteforce(spark):
    """[r17] Cross-corpus exact Jaccard: from-text values equal a python
    brute force over distinct shingle sets, capped and uncapped (cap on
    the RIGHT corpus's doc freq, sizes over kept shingles)."""
    from kaer_spark.operators.dedup import ngram_jaccard_between

    left_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated text about parquet pruning"),
        (3, "the quick brown fox jumps over the lazy cat"),
    ]
    right_rows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "the quick brown fox leaps over the lazy dog"),
        (12, "another unrelated reference document entirely"),
    ]
    left = spark.createDataFrame(left_rows, "doc_id long, text string")
    right = spark.createDataFrame(right_rows, "doc_id long, text string")

    def shingles(t, n=8):
        return {t[i:i + n] for i in range(len(t) - n + 1)}

    def expect(max_doc_freq=None, threshold=0.05):
        rsets = {i: shingles(t) for i, t in right_rows}
        if max_doc_freq is not None:
            from collections import Counter

            dfc = Counter(g for s in rsets.values() for g in s)
            hot = {g for g, c in dfc.items() if c > max_doc_freq}
        else:
            hot = set()
        out = {}
        for li, lt in left_rows:
            ls = shingles(lt) - hot
            for ri in rsets:
                rs = rsets[ri] - hot
                inter = len(ls & rs)
                if not inter:
                    continue
                j = inter / (len(ls) + len(rs) - inter)
                if j >= threshold:
                    out[(li, ri)] = round(j, 9)
        return out

    for cap in (None, 1):
        got = {
            (r["left_id"], r["right_id"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_between(
                left, right, threshold=0.05, max_doc_freq=cap
            ).collect()
        }
        assert got == expect(max_doc_freq=cap), f"cap={cap}"


def test_ngram_jaccard_against_index_matches_between(spark, tmp_path):
    """[r17] The at-rest serving path is value-identical to the from-text
    cross call over the built reference — including after a refresh and
    with the doc-freq cap engaged (hot set from the stored segments)."""
    from kaer_spark.operators.dedup import (
        build_shingle_index,
        ngram_jaccard_against_index,
        ngram_jaccard_between,
        refresh_shingle_index,
    )

    right = spark.createDataFrame(
        [(i, f"reference document number {i} about spark catalyst "
             f"optimizer rules common suffix shared by all docs")
         for i in range(8)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100 + i, f"reference document number {i} about spark catalyst "
                   f"optimizer rules common suffix shared by all docs")
         for i in range(3)]
        + [(200, "entirely different probe content")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "shidx")
    build_shingle_index(
        right.filter("doc_id < 5"), path, n=8, max_doc_freq=6
    )
    refresh_shingle_index(right, path)

    fresh = {
        (r["left_id"], r["right_id"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_between(
            probe, right, threshold=0.3, max_doc_freq=6
        ).collect()
    }
    served = {
        (r["left_id"], r["right_id"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_against_index(
            spark, path, probe, threshold=0.3
        ).collect()
    }
    assert served == fresh and fresh  # non-empty parity

    # [r17] containment rides the same artifact and the same pair cores
    from kaer_spark.operators.dedup import (
        ngram_containment_against_index,
        ngram_containment_between,
    )

    cfresh = {
        (r["left_id"], r["right_id"]):
            (round(r["containment_l_in_r"], 9),
             round(r["containment_r_in_l"], 9))
        for r in ngram_containment_between(
            probe, right, threshold=0.5, max_doc_freq=6
        ).collect()
    }
    cserved = {
        (r["left_id"], r["right_id"]):
            (round(r["containment_l_in_r"], 9),
             round(r["containment_r_in_l"], 9))
        for r in ngram_containment_against_index(
            spark, path, probe, threshold=0.5
        ).collect()
    }
    assert cserved == cfresh and cfresh


def test_winnow_index_family_contract(spark, tmp_path):
    """[r17] The eighth at-rest family obeys the engine-wide contract:
    refresh ≡ rebuild over the union (row-identical fps table), a
    replayed refresh is a no-op (crash idempotency), blank-tail
    refreshes still advance the watermark, and the against-index serve
    equals the from-text cross call."""
    import os

    from kaer_spark.operators.dedup import (
        build_winnow_index,
        read_winnow_index_meta,
        refresh_winnow_index,
        winnow_index_stats,
        winnow_overlap_against_index,
        winnow_overlap_between,
    )
    from kaer_spark.sources.files import write_sidecar

    docs = spark.createDataFrame(
        [(i, f"shared long passage about spark catalyst rules {i % 4} "
             f"with unique suffix number {i}") for i in range(10)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100 + i, f"shared long passage about spark catalyst rules "
                   f"{i % 4} with unique suffix number {i}")
         for i in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "wnidx")
    build_winnow_index(docs.filter("doc_id < 6"), path, k=16, window=4)
    built = read_winnow_index_meta(path)
    refresh_winnow_index(docs, path)
    full = str(tmp_path / "wnfull")
    build_winnow_index(docs, full, k=16, window=4)
    rows = lambda p: sorted(  # noqa: E731
        map(tuple, spark.read.parquet(f"{p}/fps").collect())
    )
    assert rows(path) == rows(full)
    assert read_winnow_index_meta(path)["max_id"] == 9

    # crash window: the fps append landed but the sidecar flip did not —
    # the sidecar rewound to its pre-refresh state must not make the
    # replay append the tail twice
    write_sidecar(os.path.join(path, "winnow_index.json"), built)
    refresh_winnow_index(docs, path)
    assert rows(path) == rows(full)
    assert read_winnow_index_meta(path)["max_id"] == 9

    # replayed refresh: no duplicate rows, watermark stable
    refresh_winnow_index(docs, path)
    assert rows(path) == rows(full)
    # blank tail still advances the watermark
    blank = docs.union(
        spark.createDataFrame([(50, "x")], "doc_id long, text string")
    )
    refresh_winnow_index(blank, path)
    assert read_winnow_index_meta(path)["max_id"] == 50
    assert rows(path) == rows(full)  # sub-k doc selected nothing

    served = sorted(
        map(tuple, winnow_overlap_against_index(
            spark, path, probe, min_shared=2
        ).collect())
    )
    fresh = sorted(
        map(tuple, winnow_overlap_between(
            probe, docs, k=16, window=4, min_shared=2
        ).collect())
    )
    assert served == fresh and fresh

    st = winnow_index_stats(spark, path, corpus=blank,
                            corpus_id_col="doc_id").collect()[0]
    assert st["n_docs"] == 10 and st["watermark_lag"] == 0
    assert st["k"] == 16 and st["window"] == 4
    assert st["n_fp_rows"] == sum(1 for _ in rows(path))


def test_minhash_signature_and_band_keys_match_expressions(spark, documents):
    """The char-path minhash signature (Arrow UDF) must equal the
    per-slot expression form value-for-value, and the parsed band-key
    constructor must stay expression-identical to the per-band struct
    expression it replaced — same Catalyst tree, not merely same values
    (a drifted parse would silently change what the oracle replays)."""
    from pyspark.sql import functions as F

    import kaer_spark.operators.dedup as D

    docs = documents.select("doc_id", "text").limit(50)

    # minhash signature: the Arrow UDF path vs the per-slot expressions
    coeffs = D.minhash_coeffs(16, 42)
    N = 8
    pw = [pow(D.HASH_BASE, N - 1 - k, D.HASH_MOD) for k in range(N)]

    def winfp(i):
        h = F.lit(0).cast("long")
        for k in range(N):
            h = (
                h + F.element_at("__mh_codes", i + F.lit(k)) * F.lit(pw[k])
            ) % F.lit(D.HASH_MOD)
        return h

    from kaer_spark.operators.util import ensure_parallelism

    built_base = (
        ensure_parallelism(docs.filter(F.length("text") >= N))
        .withColumn(
            "__mh_codes",
            F.transform(
                F.split(F.col("text"), ""), lambda ch: F.ascii(ch).cast("long")
            ),
        )
        .withColumn(
            "__mh_fps",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - N + 1), winfp
                )
            ),
        )
    )
    built_sig = F.array(
        *[
            F.array_min(
                F.transform("__mh_fps", lambda f: (f * a + b) % D.HASH_MOD)
            )
            for a, b in coeffs
        ]
    )
    built = built_base.select(
        F.col("doc_id").alias("id"), built_sig.alias("sig")
    )
    parsed = D.minhash_signatures(
        docs, "doc_id", "text", N, 16, 42, "char"
    ).select("id", "sig")
    # one side is an Arrow UDF, so compare values row-for-row
    assert parsed.exceptAll(built).count() == 0
    assert built.exceptAll(parsed).count() == 0

    # band keys: parsed text vs the per-band struct builder
    sigs = parsed.localCheckpoint(eager=False)
    nb = D._minhash_banded(sigs, 4, 4)
    ob = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[bi * 4 + r].cast("string")
                                for r in range(4)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")
    assert nb.sameSemantics(ob), "parsed _minhash_banded drifted"


# ---------------------------------------------------------------------------
# one probe kernel per family: the self, between and against-index forms
# ---------------------------------------------------------------------------
_FORM_RIGHT = [
    (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (102, "machine learning models need clean training data without duplicates"),
    (103, "a completely unrelated sentence about cooking pasta with tomatoes"),
    (104, "spark joins shuffle rows across executors when the keys do not match"),
    (105, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (106, "weather report: sunny skies and light winds expected for the weekend"),
]
_FORM_LEFT = [
    (1, "machine learning models need clean training data without duplicates"),
    (2, "the quick brown fox jumped over the lazy dog near the river bank today"),
    (3, "spark joins shufle rows across executors when the keys do not match"),
    (4, "weather report: sunny skies and light winds expected for the weekend, "
        "then rain"),
    (5, "an essay on medieval castle architecture and stone masonry techniques"),
    (6, "an essay on medieval castle architecture and stone masonry technique"),
]


def _form_vectors():
    """Six right vectors and six left ones: two exact copies, one small
    perturbation, an unrelated vector and a within-left copy pair."""
    import random

    rnd = random.Random(11)
    right = [(100 + i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(1, 7)]
    v1, v2 = right[0][1], right[1][1]
    other = [rnd.uniform(-1, 1) for _ in range(8)]
    left = [
        (1, list(v1)),
        (2, [x + 1e-3 for x in v2]),
        (3, list(right[4][1])),
        (4, [-x for x in right[2][1]]),
        (5, other),
        (6, list(other)),
    ]
    return left, right


def _form_case(name):
    """(self, between, build, against, swap) of one family; ``swap`` says
    the value columns are directional and flip with the pair."""
    import kaer_spark.operators.dedup as D

    return {
        "minhash": (
            D.minhash_near_dups,
            D.minhash_near_dups_between,
            D.build_minhash_index,
            D.minhash_near_dups_against_index,
            False,
        ),
        "signlsh": (
            lambda u: D.embedding_near_dups_lsh(u, threshold=0.9),
            lambda l, r: D.embedding_near_dups_between(l, r, threshold=0.9),
            D.build_signlsh_index,
            lambda s, p, l: D.embedding_dups_against_index(s, p, l, threshold=0.9),
            False,
        ),
        "ngram_jaccard": (
            lambda u: D.ngram_jaccard_pairs(u, threshold=0.3),
            lambda l, r: D.ngram_jaccard_between(l, r, threshold=0.3),
            D.build_shingle_index,
            lambda s, p, l: D.ngram_jaccard_against_index(s, p, l, threshold=0.3),
            False,
        ),
        "ngram_containment": (
            lambda u: D.ngram_containment_pairs(u, threshold=0.6),
            lambda l, r: D.ngram_containment_between(l, r, threshold=0.6),
            D.build_shingle_index,
            lambda s, p, l: D.ngram_containment_against_index(
                s, p, l, threshold=0.6
            ),
            True,
        ),
        "winnow": (
            lambda u: D.winnow_overlap_pairs(u, k=8, window=4),
            lambda l, r: D.winnow_overlap_between(l, r, k=8, window=4),
            lambda r, p: D.build_winnow_index(r, p, k=8, window=4),
            D.winnow_overlap_against_index,
            False,
        ),
        "fuzzy": (
            D.fuzzy_near_dups,
            D.fuzzy_near_dups_between,
            D.build_fuzzy_index,
            D.fuzzy_dups_against_index,
            False,
        ),
    }[name]


@pytest.mark.parametrize(
    "family",
    ["minhash", "signlsh", "ngram_jaccard", "ngram_containment", "winnow", "fuzzy"],
)
def test_forms_agree_on_cross_pairs(spark, tmp_path, family):
    """Per family, the three forms run one kernel and agree:
    ``between(L, R)`` == ``against_index(build(R), L)`` == the cross
    pairs of ``self(L ∪ R)`` oriented (left, right), values included."""
    import pandas as pd

    self_fn, between_fn, build_fn, against_fn, swap = _form_case(family)
    if family == "signlsh":
        lrows, rrows = _form_vectors()
        cols, schema = ["vec_id", "embedding"], "vec_id long, embedding array<double>"
    else:
        lrows, rrows = _FORM_LEFT, _FORM_RIGHT
        cols, schema = ["doc_id", "text"], "doc_id long, text string"
    left = spark.createDataFrame(pd.DataFrame(lrows, columns=cols), schema)
    right = spark.createDataFrame(pd.DataFrame(rrows, columns=cols), schema)
    left_ids = {r[0] for r in lrows}

    between = {tuple(r) for r in between_fn(left, right).collect()}
    path = str(tmp_path / family)
    build_fn(right, path)
    against = {tuple(r) for r in against_fn(spark, path, left).collect()}
    crossed = set()
    for a, b, *vals in (tuple(r) for r in self_fn(left.unionByName(right)).collect()):
        if (a in left_ids) == (b in left_ids):
            continue
        if a not in left_ids:
            a, b = b, a
            vals = vals[::-1] if swap else vals
        crossed.add((a, b, *vals))
    assert between, f"{family}: the fixture plants cross-corpus pairs"
    assert between == against == crossed


def test_signlsh_forms_fail_on_a_dimension_mismatch(spark, tmp_path):
    """A left corpus cut to 8 of the right's 16 dims: every sign-LSH form
    fails the query instead of silently returning no pairs (zip-padding
    used to zero every band key and null every cosine)."""
    import random

    import kaer_spark.operators.dedup as D

    rnd = random.Random(3)
    vecs = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(3)]
    schema = "vec_id long, embedding array<double>"
    right = spark.createDataFrame([(100 + i, v) for i, v in enumerate(vecs)], schema)
    left16 = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], schema)
    left8 = spark.createDataFrame([(i, v[:8]) for i, v in enumerate(vecs)], schema)
    assert D.embedding_near_dups_between(left16, right).count() == 3
    with pytest.raises(Exception, match="not 8-dimensional"):
        D.embedding_near_dups_between(left8, right).collect()
    with pytest.raises(Exception, match="not 16-dimensional"):
        D.embedding_near_dups_between(right, left8).collect()
    path = str(tmp_path / "signlsh")
    D.build_signlsh_index(right, path)
    assert D.embedding_dups_against_index(spark, path, left16).count() == 3
    with pytest.raises(Exception, match="not 16-dimensional"):
        D.embedding_dups_against_index(spark, path, left8).collect()


def test_vector_dim_skips_a_null_first_row(spark, tmp_path):
    """A null vector in the first-scanned row does not hide the dimension
    of the valid vectors after it: every dimension probe (``util.vec_dim``)
    reads the first NON-null vector."""
    import kaer_spark.operators.dedup as D
    from kaer_spark.operators.similarity import sq_fit
    from kaer_spark.operators.util import vec_dim

    vec = [1.0, 0.0, 0.5, 0.2]
    schema = "vec_id long, embedding array<double>"
    left = spark.createDataFrame([(1, None), (2, vec)], schema).coalesce(1)
    right = spark.createDataFrame([(10, vec)], schema)
    assert vec_dim(left, "embedding") == 4
    pairs = D.embedding_near_dups_between(left, right).collect()
    assert [(r["left_id"], r["right_id"]) for r in pairs] == [(2, 10)]
    assert D.embedding_near_dups_lsh(left).count() == 0
    assert D.signlsh_candidate_pairs(left).count() == 0
    assert D.build_signlsh_index(left, str(tmp_path / "signlsh"))["dim"] == 4
    assert sq_fit(left) == (vec, vec)
    empty = spark.createDataFrame([(1, None)], schema)
    with pytest.raises(ValueError, match="cannot infer dimension"):
        sq_fit(empty)


def test_each_probe_body_lives_in_one_kernel():
    """The band equi-join, the pair joins and the Jaccard / containment
    projections of ``operators/dedup.py`` are written once per family:
    inside its kernel or scorer, never again in a self, between or
    against-index form."""
    import ast
    import os
    import re

    import kaer_spark.operators.dedup as D

    src = open(D.__file__, encoding="utf-8").read()
    only_in = {
        r'on=\["band","key"\]': {
            "_minhash_probe", "_signlsh_probe",
        },
        r'on="g"': {"_ngram_pair_counts"},
        r'F\.col\("sz_a"\)\+F\.col\("sz_b"\)-F\.col\("inter"\)': {"_ngram_jaccard"},
        r'/F\.col\("sz_[ab]"\)': {"_ngram_containment"},
        r"F\.array_union\(": {"_minhash_probe"},
        r'alias\("n_shared"\)': {"_winnow_overlap"},
        r"F\.levenshtein\(": {"_fuzzy_join_verify"},
    }
    lines = src.splitlines()
    found = {pat: set() for pat in only_in}
    for node in ast.parse(src).body:
        if not isinstance(node, ast.FunctionDef):
            continue
        body = re.sub(r"\s+", "", "".join(lines[node.lineno - 1:node.end_lineno]))
        for pat in only_in:
            if re.search(pat, body):
                found[pat].add(node.name)
    assert found == only_in, os.path.basename(D.__file__)


@pytest.mark.parametrize("form", ["self", "against"])
def test_passage_removal_fingerprints_once(spark, documents, form):
    """``remove_duplicate_passages`` and ``remove_duplicate_passages_against``
    hash each passage once: their final plans hold one ``ArrowEvalPython``,
    where counts joined back to the exploded rows re-ran the fingerprint
    UDF for each consumer."""
    from kaer_spark.operators.dedup import (
        remove_duplicate_passages,
        remove_duplicate_passages_against,
    )
    from kaer_spark.plans.inspect import final_executed_plan

    docs = documents.select("doc_id", "text")
    if form == "self":
        out = remove_duplicate_passages(docs, length=24)
    else:
        out = remove_duplicate_passages_against(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            length=24,
        )
    final = final_executed_plan(out).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("ArrowEvalPython") == 1, final


def test_fphash_stages_are_sized_by_their_input():
    """Every ``fphash`` UDF builder's input is sized by
    ``util.size_python_stage``, never widened by ``ensure_parallelism``.
    ``cdc_chunks`` is the one exception: its interpreted per-character
    chunk fold runs in the same stage as its UDF. The check reads the
    innermost block around each builder call."""
    import ast
    import os

    import kaer_spark

    builders = {"window_fps_col", "minhash_sig_col", "winnow_selections_col"}
    pkg = os.path.dirname(kaer_spark.__file__)
    sized, widened = set(), set()
    for root, _dirs, names in os.walk(pkg):
        for name in sorted(n for n in names if n.endswith(".py")):
            with open(os.path.join(root, name), encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for fn in tree.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                blocks = [
                    block
                    for node in ast.walk(fn)
                    for block in (getattr(node, "body", None), getattr(node, "orelse", None))
                    if isinstance(block, list) and block and isinstance(block[0], ast.stmt)
                ]
                for call in ast.walk(fn):
                    if not (
                        isinstance(call, ast.Call)
                        and isinstance(call.func, ast.Name)
                        and call.func.id in builders
                    ):
                        continue
                    block = min(
                        (
                            b for b in blocks
                            if b[0].lineno <= call.lineno <= b[-1].end_lineno
                        ),
                        key=lambda b: b[-1].end_lineno - b[0].lineno,
                    )
                    code = "\n".join(ast.unparse(stmt) for stmt in block)
                    where = f"{name[:-3]}.{fn.name}"
                    if "size_python_stage(" in code:
                        sized.add(where)
                    if "ensure_parallelism(" in code:
                        widened.add(where)
    assert widened == {"dedup.cdc_chunks"}
    assert sized == {
        "dedup.minhash_signatures",
        "dedup.duplicate_passages",
        "dedup._window_fp_explode",
        "dedup.winnow_fingerprints",
    }


_OUTSIDE_CHECKOUT_SCRIPT = r"""
import sys

sys.path.insert(0, sys.argv[1])
from kaer_spark.operators.dedup import build_minhash_index
from kaer_spark.session import get_spark

spark = get_spark(app_name="ship-check", master="local[1]", shuffle_partitions=1)
doc = spark.sql("SELECT 1L AS doc_id, 'one document long enough to sign' AS text")
build_minhash_index(doc, sys.argv[2])
spark.stop()
print("built")
"""


def test_fphash_stage_ships_the_package(tmp_path):
    """A driver script run from outside the checkout, with the checkout on
    ``sys.path`` and no ``PYTHONPATH``, builds a MinHash index: the
    signature stage ships ``kaer_spark`` to the Python workers, whose
    import of the ``fphash`` UDFs otherwise fails with
    ``ModuleNotFoundError``. Run in a child process from a temporary
    working directory, so the suite's session and cwd play no part."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_CHECKOUT_SCRIPT, repo, str(tmp_path / "mh")],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300,
    )
    assert done.returncode == 0 and "built" in done.stdout, done.stderr[-3000:]
