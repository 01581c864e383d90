"""Structured-Streaming surface: screened near-dup ingest, stateful
first-seen dedup, streaming HLL state, epoch compaction, and
stream-vs-batch answer equivalence for session windows."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaer_spark.streaming.ingest import sessionized_counts, streaming_dedup

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir, tmp_path_factory):
    """events fixture rewritten as µs timestamps in several files (Spark
    can't read the ns-precision original directly; see __spark_entry__)."""
    import duckdb

    out = str(tmp_path_factory.mktemp("events_us"))
    duckdb.sql(
        f"""
        COPY (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                     event_type, value, props
              FROM read_parquet('{sf_dir}/events.parquet'))
        TO '{out}' (FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)
        """
    )
    return out


def _run_stream(df_stream, transform, tmp_path, name):
    q = (
        transform(df_stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def test_stream_equals_batch_sessionized(spark, events_batch, tmp_path):
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_batch)
    )
    name = _run_stream(stream, sessionized_counts, tmp_path, "sess_counts")
    got = {
        (r["session_start"], r["user_id"]): r["n_events"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = spark.read.parquet(events_batch)
    want = {
        (r["session_start"], r["user_id"]): r["n_events"]
        for r in sessionized_counts(batch).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_dedup_first_seen_wins(spark, tmp_path):
    """applyInPandasWithState dedup: exactly one row per fingerprint across
    micro-batches; within the first batch containing it, the min-id row."""
    src = tmp_path / "dsrc"
    os.makedirs(src)
    schema = "id LONG, fp LONG, payload STRING"
    # batch 0: fps 1,1,2 (min ids 10, 12); batch 1: fps 2,3 (2 is a re-arrival)
    spark.createDataFrame(
        [(11, 1, "b0-dup"), (10, 1, "b0-first"), (12, 2, "b0-two")], schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(
        [(20, 2, "b1-re"), (21, 3, "b1-three")], schema
    ).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    )
    q = (
        streaming_dedup(stream, fp_col="fp", id_col="id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["fp"]: (r["id"], r["payload"]) for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] == (10, "b0-first")  # min id within the batch, not arrival order
    assert rows[3] == (21, "b1-three")
    assert rows[2][0] in (12, 20)  # whichever file triggered first


def test_streaming_dedup_against_reference(spark, tmp_path):
    """Stream-static decontamination + in-stream dedup: arrivals whose
    fingerprint exists in the static reference never reach the state store,
    in-stream re-arrivals dedup first-seen, and novel rows pass through."""
    from kaer_spark.streaming.ingest import streaming_dedup_against

    src = tmp_path / "dasrc"
    os.makedirs(src)
    schema = "id LONG, fp LONG, payload STRING"
    # fps 100, 200 are contaminated (exist in the reference)
    spark.createDataFrame(
        [(1, 100, "contaminated"), (2, 7, "novel-seven"), (3, 7, "dup-seven")],
        schema,
    ).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(
        [(10, 200, "contaminated-too"), (11, 8, "novel-eight"), (12, 7, "re")],
        schema,
    ).coalesce(1).write.parquet(f"{src}/b1")
    reference = spark.createDataFrame(
        [(90, 100, "ref"), (91, 200, "ref")], schema
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        streaming_dedup_against(stream, reference, fp_col="fp", id_col="id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_against_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_da"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        r["fp"]: (r["id"], r["payload"])
        for r in spark.sql("SELECT * FROM dedup_against_out").collect()
    }
    assert set(rows) == {7, 8}           # 100/200 filtered by the reference
    assert rows[7] == (2, "novel-seven")  # min-id first-seen, re-arrival dropped
    assert rows[8] == (11, "novel-eight")


def test_streaming_hll_ingest_merge_equals_whole(spark, tmp_path):
    """After two micro-batches, the persisted register state equals the
    batch sketch of the union (merge-of-batches ≡ whole — the exact HLL
    property), and the state stays ≤ 2^p rows."""
    from kaer_spark.operators.sketches import hll_distinct, hll_estimate
    from kaer_spark.streaming.ingest import streaming_hll_ingest

    src = tmp_path / "hllsrc"
    os.makedirs(src)
    schema = "doc_id LONG, v STRING"
    b0 = [(i, f"tok{i}") for i in range(200)]
    b1 = [(i + 1000, f"tok{i + 150}") for i in range(200)]  # 50 overlap
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    state = str(tmp_path / "hll_state")
    q = streaming_hll_ingest(
        stream, "v", state, str(tmp_path / "ckpt_hll"), p=10
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = hll_estimate(spark.read.parquet(state), p=10).collect()[0]
    whole = hll_distinct(
        spark.createDataFrame(b0 + b1, schema).select("v"), "v", p=10
    ).collect()[0]
    assert merged["z_num"] == whole["z_num"]
    assert merged["estimate"] == whole["estimate"]
    assert merged["used_registers"] <= 1 << 10


def _hll_stream(spark, src_glob, state, ckpt, p=10):
    from kaer_spark.streaming.ingest import streaming_hll_ingest

    stream = (
        spark.readStream.schema("doc_id LONG, v STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )
    return streaming_hll_ingest(stream, "v", state, ckpt, p=p)


def test_streaming_hll_corrupt_state_raises(spark, tmp_path):
    """A corrupted/unreadable state dir must FAIL the stream, not be
    silently treated as 'first batch' (which would reset the all-time
    sketch to the current batch — r12 ADVICE)."""
    schema = "doc_id LONG, v STRING"
    src = tmp_path / "src"
    os.makedirs(src)
    spark.createDataFrame(
        [(i, f"a{i}") for i in range(50)], schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    state = str(tmp_path / "state")
    q = _hll_stream(spark, f"{src}/b*", state, str(tmp_path / "ck0"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # corrupt the sole parquet part file in place
    for name in os.listdir(state):
        if name.endswith(".parquet"):
            with open(os.path.join(state, name), "wb") as f:
                f.write(b"not a parquet file")
    spark.createDataFrame(
        [(i + 100, f"b{i}") for i in range(50)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    q2 = _hll_stream(spark, f"{src}/b*", state, str(tmp_path / "ck1"))
    with pytest.raises(Exception):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()


def test_streaming_hll_recovers_interrupted_swap(spark, tmp_path):
    """Crash between the two renames of the atomic state swap leaves the
    previous state at <state>.old — the next batch (and read_hll_state)
    must restore and merge it, not start from scratch."""
    from kaer_spark.operators.sketches import hll_distinct, hll_estimate
    from kaer_spark.streaming.ingest import read_hll_state

    schema = "doc_id LONG, v STRING"
    src = tmp_path / "src"
    os.makedirs(src)
    b0 = [(i, f"a{i}") for i in range(120)]
    b1 = [(i + 1000, f"b{i}") for i in range(120)]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/b0")
    state = str(tmp_path / "state")
    q = _hll_stream(spark, f"{src}/b*", state, str(tmp_path / "ck0"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # simulate the crash window: live dir renamed aside, tmp never landed
    os.rename(state, state + ".old")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1")
    q2 = _hll_stream(spark, f"{src}/b*", state, str(tmp_path / "ck1"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    merged = hll_estimate(read_hll_state(spark, state), p=10).collect()[0]
    whole = hll_distinct(
        spark.createDataFrame(b0 + b1, schema).select("v"), "v", p=10
    ).collect()[0]
    assert merged["z_num"] == whole["z_num"]
    assert merged["estimate"] == whole["estimate"]
    assert not os.path.isdir(state + ".old")


def test_stream_neardup_ingest_end_to_end(spark, tmp_path):
    """Online near-dup ingest: batches are screened against the at-rest
    MinHash index, survivors land in the corpus and ADVANCE the index, so
    a later batch is screened against an earlier batch's survivors. Also
    pins the replay discriminators: a replayed epoch is idempotent,
    duplicate delivery under a fresh epoch raises, and a batch straddling
    the watermark raises."""
    from kaer_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_index_meta,
    )
    from kaer_spark.streaming.ingest import (
        neardup_ingest_batch,
        stream_neardup_ingest,
    )

    ta = "the quick brown fox jumps over the lazy dog while spark shuffles data"
    tb = "completely unrelated text about warehouse bucketing plans and catalogs"
    tc = "a third document concerning catalyst optimizers and adaptive execution"
    td = "fourth topic entirely: streaming watermarks and stateful aggregation"
    te = "fifth subject matter covers parquet row groups and predicate pushdown"
    schema = "doc_id long, text string"

    idx = str(tmp_path / "mh_idx")
    seed = spark.createDataFrame([(1, ta), (2, tb)], schema)
    build_minhash_index(seed, idx, n=8, num_hashes=16, bands=4, seed=42)

    src = tmp_path / "src"
    os.makedirs(src)
    out = str(tmp_path / "corpus")
    # b0: 10 dups the reference (ta), 11 novel, 12 dups 11 in-batch, 13 novel
    spark.createDataFrame(
        [(10, ta), (11, tc), (12, tc), (13, td)], schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_neardup_ingest(
        stream, idx, out, str(tmp_path / "ckpt"), threshold=0.5
    )
    q.processAllAvailable()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [11, 13]
    assert read_minhash_index_meta(idx)["max_id"] == 13

    # b1: 20 dups b0-survivor 11, 21 novel, 22 dups the reference (tb)
    spark.createDataFrame(
        [(20, tc), (21, te), (22, tb)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    q.processAllAvailable()
    q.stop()
    corpus = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [11, 13, 21]
    # watermark floors at the batch max (22 was DECIDED — dropped as a
    # reference dup — even though only 21 was stored)
    assert read_minhash_index_meta(idx)["max_id"] == 22

    # replayed epoch (all ids at-or-below the watermark, partition
    # exists): recomputes identically, appends nothing to the index
    bands_before = spark.read.parquet(os.path.join(idx, "bands")).count()
    neardup_ingest_batch(
        spark.createDataFrame([(20, tc), (21, te), (22, tb)], schema),
        1, idx, out, threshold=0.5,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [11, 13, 21]
    assert spark.read.parquet(
        os.path.join(idx, "bands")
    ).count() == bands_before

    # duplicate delivery: old ids under a FRESH epoch (no partition)
    with pytest.raises(ValueError, match="duplicate delivery"):
        neardup_ingest_batch(
            spark.createDataFrame([(20, tc)], schema), 7, idx, out,
        )

    # straddle: mixes an already-indexed id with a new one
    with pytest.raises(ValueError, match="straddle"):
        neardup_ingest_batch(
            spark.createDataFrame([(21, te), (30, td)], schema),
            2, idx, out,
        )


def test_neardup_ingest_batch_text_col_other_than_the_index(spark, tmp_path):
    """A sink whose text column is not the index's: the survivors' text
    lands in the index's docs/ under the index's own column names, and
    the next batch is screened against it."""
    from kaer_spark.operators.dedup import build_minhash_index
    from kaer_spark.streaming.ingest import neardup_ingest_batch

    ta = "the quick brown fox jumps over the lazy dog while spark shuffles data"
    tc = "a third document concerning catalyst optimizers and adaptive execution"
    idx, out = str(tmp_path / "mh_idx"), str(tmp_path / "corpus")
    build_minhash_index(
        spark.createDataFrame([(1, ta)], "doc_id long, text string"),
        idx, n=8, num_hashes=16, bands=4, seed=42,
    )
    schema = "doc_id long, body string"
    neardup_ingest_batch(
        spark.createDataFrame([(10, ta), (11, tc)], schema),
        0, idx, out, text_col="body",
    )
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    assert docs.columns == ["id", "text"]
    assert sorted(map(tuple, docs.collect())) == [(1, ta), (11, tc)]
    neardup_ingest_batch(
        spark.createDataFrame([(20, tc + " again")], schema),
        1, idx, out, text_col="body",
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [11]


def test_stream_embedding_neardup_ingest_end_to_end(spark, tmp_path):
    """The embedding twin: batches of vectors screened against the
    at-rest sign-LSH index (exact-cosine verify), survivors advance the
    index, replay discriminators mirror the text operator."""
    from kaer_spark.operators.dedup import (
        build_signlsh_index,
        read_signlsh_index_meta,
    )
    from kaer_spark.streaming.ingest import (
        embedding_neardup_ingest_batch,
        stream_embedding_neardup_ingest,
    )

    va, vb, vc, vd = (
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    )
    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "sl_idx")
    build_signlsh_index(
        spark.createDataFrame([(1, va)], schema), idx,
        bands=4, bits_per_band=2, seed=7,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    out = str(tmp_path / "corpus")
    # b0: 10 dups the reference (va), 11 novel, 12 dups 11 in-batch,
    # 13 novel — orthogonal directions make every cosine exactly 0 or 1,
    # so the exact verify decides deterministically whatever the bands do
    spark.createDataFrame(
        [(10, va), (11, vb), (12, vb), (13, vc)], schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_embedding_neardup_ingest(
        stream, idx, out, str(tmp_path / "ckpt"), threshold=0.95
    )
    q.processAllAvailable()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    ) == [11, 13]
    assert read_signlsh_index_meta(idx)["max_id"] == 13

    # b1: 20 dups b0-survivor 11, 21 novel, 22 dups the reference
    spark.createDataFrame(
        [(20, vb), (21, vd), (22, va)], schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    q.processAllAvailable()
    q.stop()
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    ) == [11, 13, 21]
    # watermark floors at the batch max (22 decided-but-dropped)
    assert read_signlsh_index_meta(idx)["max_id"] == 22

    # replayed epoch: idempotent
    bands_before = spark.read.parquet(os.path.join(idx, "bands")).count()
    embedding_neardup_ingest_batch(
        spark.createDataFrame([(20, vb), (21, vd), (22, va)], schema),
        1, idx, out, threshold=0.95,
    )
    assert sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    ) == [11, 13, 21]
    assert spark.read.parquet(
        os.path.join(idx, "bands")
    ).count() == bands_before

    # duplicate delivery and straddle both refuse loudly
    with pytest.raises(ValueError, match="duplicate delivery"):
        embedding_neardup_ingest_batch(
            spark.createDataFrame([(20, vb)], schema), 9, idx, out,
        )
    with pytest.raises(ValueError, match="straddle"):
        embedding_neardup_ingest_batch(
            spark.createDataFrame([(21, vd), (30, vc)], schema),
            2, idx, out,
        )


def test_stream_neardup_ingest_surrogate_ids_hash_source(spark, tmp_path):
    """The surrogate-id recipe end to end over a HASH-keyed source (no
    monotone ids anywhere): assign_ids=True assigns watermark+row_number
    ids in the batch body, so the monotone contract holds by
    construction. Pins: cross-batch screening still works (a batch-2 dup
    of a batch-1 survivor is dropped), a replayed epoch is a no-op (the
    committed partition is never rewritten), and duplicate source
    delivery under a FRESH epoch converges through the content screen
    instead of refusing — the re-delivered docs near-dup what the
    original delivery indexed."""
    from kaer_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_index_meta,
    )
    from kaer_spark.streaming.ingest import (
        neardup_ingest_batch,
        stream_neardup_ingest,
    )

    ta = "the quick brown fox jumps over the lazy dog while spark shuffles data"
    tb = "completely unrelated text about warehouse bucketing plans and catalogs"
    tc = "a third document concerning catalyst optimizers and adaptive execution"
    td = "fourth topic entirely: streaming watermarks and stateful aggregation"
    # source rows carry an opaque hash key, NOT a monotone id
    src_schema = "doc_key string, text string"

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(
        spark.createDataFrame([(1, ta)], "doc_id long, text string"),
        idx, n=8, num_hashes=16, bands=4, seed=42,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    out = str(tmp_path / "corpus")
    spark.createDataFrame(
        [("9f2ab", ta), ("01c77", tb), ("e3d10", tb)], src_schema
    ).coalesce(1).write.parquet(f"{src}/b0")
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_neardup_ingest(
        stream, idx, out, str(tmp_path / "ckpt"),
        threshold=0.5, assign_ids=True,
    )
    q.processAllAvailable()
    # ta dups the reference; tb survives once (in-batch twin dropped)
    corpus = spark.read.parquet(out)
    assert sorted(r["text"] for r in corpus.collect()) == [tb]
    assert corpus.select("doc_id").distinct().count() == 1
    wm1 = read_minhash_index_meta(idx)["max_id"]
    assert wm1 == 4  # watermark floored at base(1) + batch rows(3)

    # batch 2: one dup of the batch-1 survivor, one novel
    spark.createDataFrame(
        [("77aa0", tb), ("b3c41", tc)], src_schema
    ).coalesce(1).write.parquet(f"{src}/b1")
    q.processAllAvailable()
    q.stop()
    assert sorted(
        r["text"] for r in spark.read.parquet(out).collect()
    ) == sorted([tb, tc])

    # replayed epoch: committed partition → no-op heal, nothing rewritten
    bands_before = spark.read.parquet(os.path.join(idx, "bands")).count()
    mtimes = {
        f: os.path.getmtime(f)
        for f in __import__("glob").glob(os.path.join(out, "epoch=1", "*"))
    }
    neardup_ingest_batch(
        spark.createDataFrame([("77aa0", tb), ("b3c41", tc)], src_schema),
        1, idx, out, threshold=0.5, assign_ids=True,
    )
    assert spark.read.parquet(os.path.join(idx, "bands")).count() == bands_before
    assert {
        f: os.path.getmtime(f)
        for f in __import__("glob").glob(os.path.join(out, "epoch=1", "*"))
    } == mtimes

    # duplicate source delivery under a FRESH epoch: fails safe through
    # the content screen — nothing new lands, the watermark advances
    neardup_ingest_batch(
        spark.createDataFrame([("77aa0", tb), ("b3c41", tc)], src_schema),
        9, idx, out, threshold=0.5, assign_ids=True,
    )
    assert sorted(
        r["text"] for r in spark.read.parquet(out).collect()
    ) == sorted([tb, tc])

    # a genuinely novel doc after all that still ingests
    neardup_ingest_batch(
        spark.createDataFrame([("f00d5", td)], src_schema),
        10, idx, out, threshold=0.5, assign_ids=True,
    )
    assert sorted(
        r["text"] for r in spark.read.parquet(out).collect()
    ) == sorted([tb, tc, td])


def test_surrogate_mode_indexes_dropped_docs_transitive_redelivery(
    spark, tmp_path
):
    """The ADVICE r16 hole: a doc dropped as a NON-ADJACENT member of a
    transitive self-dedup cluster (A~B, B~C, A!~C; min-id keeps A) near-
    dups nothing among the survivors, so with a survivors-only index its
    re-delivery under a fresh epoch would silently re-ingest it. In
    surrogate mode the index now advances with the FULL batch, so the
    re-delivered doc collides with its own stored signature. Pins: (a)
    the transitive cluster collapses to its representative, (b) re-
    delivery of EITHER dropped member (adjacent B, transitive C) under a
    fresh epoch lands nothing, (c) a genuinely novel doc still ingests."""
    from kaer_spark.operators.dedup import build_minhash_index
    from kaer_spark.streaming.ingest import neardup_ingest_batch

    x = "aaa quick brown foxes leap over all lazy dogs"
    y = "mmm catalyst rewrites logical plans into trees"
    z = "ttt watermarks bound state in streaming windows"
    w = "zzz bucketing colocates join keys across tables"
    ta, tb, tc = x + " " + y, y + " " + z, z + " " + w

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(
        spark.createDataFrame(
            [(1, "completely unrelated reference corpus seed document")],
            "doc_id long, text string",
        ),
        idx, n=8, num_hashes=16, bands=16, seed=42,
    )
    src_schema = "doc_key string, text string"
    out = str(tmp_path / "corpus")
    neardup_ingest_batch(
        spark.createDataFrame(
            [("ka", ta), ("kb", tb), ("kc", tc)], src_schema
        ),
        0, idx, out, threshold=0.25, assign_ids=True,
    )
    # transitive closure: {A,B,C} is ONE cluster, A (lexicographically
    # first text => min surrogate id) is the representative
    assert sorted(
        r["text"] for r in spark.read.parquet(out).collect()
    ) == [ta]
    # the index must hold ALL THREE screened signatures, not just A's
    indexed = {
        r["id"]
        for r in spark.read.parquet(os.path.join(idx, "docs")).collect()
    }
    assert indexed == {1, 2, 3, 4}

    # re-delivery of the TRANSITIVE member (C, which shares nothing with
    # stored A) under a fresh epoch: caught by its own signature
    neardup_ingest_batch(
        spark.createDataFrame([("kc", tc)], src_schema),
        7, idx, out, threshold=0.25, assign_ids=True,
    )
    # re-delivery of the adjacent member too
    neardup_ingest_batch(
        spark.createDataFrame([("kb", tb)], src_schema),
        8, idx, out, threshold=0.25, assign_ids=True,
    )
    assert sorted(
        r["text"] for r in spark.read.parquet(out).collect()
    ) == [ta]
    # novel content still lands
    neardup_ingest_batch(
        spark.createDataFrame(
            [("kn", "qqq a genuinely novel document about parquet readers")],
            src_schema,
        ),
        9, idx, out, threshold=0.25, assign_ids=True,
    )
    assert spark.read.parquet(out).count() == 2


def test_embedding_surrogate_mode_indexes_dropped_docs(spark, tmp_path):
    """Embedding twin of the transitive-redelivery pin: in surrogate mode
    the sign-LSH index advances with the full batch, so a dropped
    vector's re-delivery collides with its own stored signature."""
    from kaer_spark.operators.dedup import build_signlsh_index
    from kaer_spark.streaming.ingest import embedding_neardup_ingest_batch

    # chain at 24° steps: cos(va,vb)=cos(vb,vc)=cos24°≈0.914 ≥ 0.9,
    # cos(va,vc)=cos48°≈0.669 < 0.9 — a transitive cluster
    va = [1.0, 0.0, 0.0, 0.0]
    vb = [0.9135, 0.4067, 0.0, 0.0]
    vc = [0.6691, 0.7431, 0.0, 0.0]
    idx = str(tmp_path / "sl_idx")
    build_signlsh_index(
        spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0, 1.0])],
            "vec_id long, embedding array<double>",
        ),
        idx, bands=8, bits_per_band=2, seed=7,
    )
    schema = "vec_key string, embedding array<double>"
    out = str(tmp_path / "corpus")
    embedding_neardup_ingest_batch(
        spark.createDataFrame(
            [("ka", va), ("kb", vb), ("kc", vc)], schema
        ),
        0, idx, out, threshold=0.9, assign_ids=True, order_col="vec_key",
    )
    stored = spark.read.parquet(out).collect()
    assert len(stored) == 1 and stored[0]["embedding"] == va
    indexed = {
        r["right_id"]
        for r in spark.read.parquet(os.path.join(idx, "bands")).collect()
    }
    assert indexed == {1, 2, 3, 4}
    # transitive member vc re-delivered under a fresh epoch: dropped
    embedding_neardup_ingest_batch(
        spark.createDataFrame([("kc", vc)], schema),
        5, idx, out, threshold=0.9, assign_ids=True, order_col="vec_key",
    )
    assert spark.read.parquet(out).count() == 1


@pytest.mark.parametrize("family", ["minhash", "signlsh"])
def test_ingest_batch_replay_refusals_and_all_dropped(spark, tmp_path, family):
    """The shared screen-and-append body, per index family, on 2-3 row
    batches: a replayed epoch leaves its committed partition untouched,
    a batch straddling the watermark and an all-below batch under a
    fresh epoch are refused, and a batch the screen drops ENTIRELY still
    commits its empty epoch partition and advances the watermark to its
    max id."""
    from kaer_spark.operators import dedup
    from kaer_spark.streaming import ingest

    if family == "minhash":
        a = "the quick brown fox jumps over the lazy dog while spark shuffles data"
        b = "a third document concerning catalyst optimizers and adaptive execution"
        schema, id_col = "doc_id long, text string", "doc_id"
        build, read_meta = dedup.build_minhash_index, dedup.read_minhash_index_meta
        geometry = dict(n=8, num_hashes=16, bands=4, seed=42)
        run = ingest.neardup_ingest_batch
    else:
        a, b = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
        schema, id_col = "vec_id long, embedding array<double>", "vec_id"
        build, read_meta = dedup.build_signlsh_index, dedup.read_signlsh_index_meta
        geometry = dict(bands=4, bits_per_band=2, seed=7)
        run = ingest.embedding_neardup_ingest_batch
    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    build(spark.createDataFrame([(1, a)], schema), idx, **geometry)

    def ingest_rows(rows, epoch):
        run(spark.createDataFrame(rows, schema), epoch, idx, out)

    def files(epoch):
        d = os.path.join(out, f"epoch={epoch}")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    # 10 dups the reference, 12 dups 11 in-batch
    ingest_rows([(10, a), (11, b), (12, b)], 0)
    assert [r[id_col] for r in spark.read.parquet(out).collect()] == [11]
    assert read_meta(idx)["max_id"] == 12
    before = files(0)
    ingest_rows([(10, a), (11, b), (12, b)], 0)
    assert files(0) == before

    with pytest.raises(ValueError, match="straddle"):
        ingest_rows([(12, b), (13, a)], 1)
    with pytest.raises(ValueError, match="duplicate delivery"):
        ingest_rows([(11, b), (12, b)], 1)

    # 20 dups the reference, 21 the ingested survivor 11
    ingest_rows([(20, a), (21, b)], 1)
    assert os.path.exists(os.path.join(out, "epoch=1", "_SUCCESS"))
    assert spark.read.parquet(os.path.join(out, "epoch=1")).count() == 0
    assert read_meta(idx)["max_id"] == 21
    assert [r[id_col] for r in spark.read.parquet(out).collect()] == [11]


def test_each_ingest_step_lives_in_one_function():
    """The committed-epoch check, the surrogate-id assignment and the
    straddle refusal are written once, in the near-dup sinks' shared
    body, and every streaming sink starts through the one
    ``foreachBatch`` writer."""
    import ast
    import re

    import kaer_spark.streaming.ingest as I

    only_in = {
        r"(?<!def)_fs_committed\(": {"_screen_and_append"},
        r"(?<!def)_assign_surrogate_ids\(": {"_screen_and_append"},
        r"\]straddle": {"_screen_and_append"},
        r"\.writeStream\.": {"_start"},
    }
    found = {pat: set() for pat in only_in}
    src = open(I.__file__, encoding="utf-8").read()
    lines = src.splitlines()
    for node in ast.parse(src).body:
        if not isinstance(node, ast.FunctionDef):
            continue
        body = re.sub(r"\s+", "", "".join(lines[node.lineno - 1:node.end_lineno]))
        for pat in only_in:
            if re.search(pat, body):
                found[pat].add(node.name)
    assert found == only_in


def test_fs_committed_requires_success_markers(spark, tmp_path):
    """marksuccessfuljobs=false (common S3 tuning) would make every
    committed epoch read as uncommitted — every genuine replay would
    then raise "duplicate delivery" and wedge the stream. The ingest
    path fails fast instead, at the first marker consultation."""
    from kaer_spark.streaming.ingest import _fs_committed

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    prev = hconf.get(key)
    hconf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
            _fs_committed(spark, str(tmp_path / "epoch=0"))
    finally:
        if prev is None:
            hconf.unset(key)
        else:
            hconf.set(key, prev)
    # markers back on: the check passes and the marker probe works
    assert _fs_committed(spark, str(tmp_path / "epoch=0")) is False


def _mk_epochs(spark, out, texts_per_epoch):
    """Write one committed epoch partition per entry (the ingest sinks'
    layout: data WITHOUT the epoch column, directory-derived partition)."""
    for e, rows in texts_per_epoch.items():
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(2).write.mode("overwrite").parquet(f"{out}/epoch={e}")


def test_compact_ingest_epochs_preserves_rows_and_replay(spark, tmp_path):
    """[r16] Closed-epoch compaction: committed epochs below the newest
    consolidate into one partition + zero-row committed tombstones; the
    root read returns the identical row multiset; a replayed tombstone
    epoch is STILL discriminated as a replay (no-op), not duplicate
    delivery; the newest epoch is never touched."""
    import glob

    from kaer_spark.operators.dedup import build_minhash_index
    from kaer_spark.streaming.ingest import (
        compact_ingest_epochs,
        neardup_ingest_batch,
    )

    out = str(tmp_path / "corpus")
    _mk_epochs(spark, out, {
        0: [(1, "alpha document one"), (2, "beta document two")],
        1: [(3, "gamma document three")],
        2: [(4, "delta document four"), (5, "epsilon document five")],
        5: [(6, "zeta newest document six")],
    })
    before = sorted(
        (r["doc_id"], r["text"], r["epoch"])
        for r in spark.read.parquet(out).collect()
    )
    res = compact_ingest_epochs(spark, out, target_bytes=1 << 30)
    assert res["compacted"] == 3 and res["into"] == 2 and res["files"] == 1
    after = spark.read.parquet(out).collect()
    # same rows; absorbed rows adopt the consolidated epoch, newest intact
    assert sorted((r["doc_id"], r["text"]) for r in after) == sorted(
        (d, t) for d, t, _ in before
    )
    assert {r["epoch"] for r in after} == {2, 5}
    # tombstones: committed, zero rows, still partitions of the root
    for e in (0, 1):
        assert os.path.exists(f"{out}/epoch={e}/_SUCCESS")
        assert spark.read.parquet(f"{out}/epoch={e}").count() == 0
    # consolidated partition holds everything below the horizon in 1 file
    assert spark.read.parquet(f"{out}/epoch=2").count() == 5
    assert len(glob.glob(f"{out}/epoch=2/part-*.parquet")) == 1
    # idempotent: a second run finds nothing to do
    assert compact_ingest_epochs(spark, out)["compacted"] == 0

    # replay of a TOMBSTONED epoch still reads as a replay: ids at/below
    # the index watermark + committed partition → no-op, no wedge
    idx = str(tmp_path / "mh")
    build_minhash_index(
        spark.createDataFrame(
            [(50, "reference seed document")], "doc_id long, text string"
        ),
        idx, n=8, num_hashes=16, bands=4, seed=42,
    )
    neardup_ingest_batch(  # replay epoch 1 with long-decided ids
        spark.createDataFrame([(3, "gamma document three")],
                              "doc_id long, text string"),
        1, idx, out, threshold=0.5,
    )
    assert spark.read.parquet(out).count() == 6  # nothing re-ingested


def test_compact_ingest_epochs_crash_recovery(spark, tmp_path):
    """Both crash windows heal: BEFORE the manifest the prepared tmp dir
    is rolled back (live partitions untouched); AFTER the manifest the
    swap rolls forward — including the half-swapped state where an epoch
    was moved aside but its replacement not yet moved in."""
    import json as _json
    import shutil as _shutil

    from kaer_spark.streaming.ingest import (
        compact_ingest_epochs,
        recover_epoch_compaction,
    )

    out = str(tmp_path / "corpus")
    epochs = {
        0: [(1, "alpha"), (2, "beta")],
        1: [(3, "gamma")],
        2: [(4, "delta")],
        7: [(9, "newest")],
    }
    _mk_epochs(spark, out, epochs)
    want = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )

    # window 1: tmp prepared, NO manifest → roll back, nothing changed
    spark.createDataFrame([(1, "alpha")], "doc_id long, text string").write \
        .mode("overwrite").parquet(f"{out}/.compact_tmp/epoch=0")
    assert recover_epoch_compaction(spark, out) is True
    assert not os.path.exists(f"{out}/.compact_tmp")
    assert sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    ) == want

    # window 2: manifest written, one epoch HALF-swapped (live moved
    # aside, replacement not moved in), then "crash" → roll forward
    full = spark.read.parquet(f"{out}/epoch=0").unionByName(
        spark.read.parquet(f"{out}/epoch=1")
    ).unionByName(spark.read.parquet(f"{out}/epoch=2"))
    full.coalesce(1).write.mode("overwrite").parquet(
        f"{out}/.compact_tmp/epoch=2"
    )
    empty = spark.createDataFrame([], schema=full.schema)
    empty.write.mode("overwrite").parquet(f"{out}/.compact_tmp/epoch=0")
    empty.write.mode("overwrite").parquet(f"{out}/.compact_tmp/epoch=1")
    with open(f"{out}/.compact_tmp/_MANIFEST.json", "w") as f:
        _json.dump({"epochs": [0, 1, 2], "into": 2}, f)
    os.makedirs(f"{out}/.compact_old", exist_ok=True)
    os.rename(f"{out}/epoch=0", f"{out}/.compact_old/epoch=0")  # half-swap
    assert recover_epoch_compaction(spark, out) is True
    assert not os.path.exists(f"{out}/.compact_tmp")
    assert not os.path.exists(f"{out}/.compact_old")
    after = spark.read.parquet(out).collect()
    assert sorted((r["doc_id"], r["text"]) for r in after) == want
    assert {r["epoch"] for r in after} == {2, 7}
    # recovery can't know the healed run's horizon (the sidecar is the
    # RUNNER's bookkeeping), so the next compaction re-merges the healed
    # epochs once — value-preserving — and only then converges to no-op
    res = compact_ingest_epochs(spark, out)
    assert res["compacted"] == 3 and res["into"] == 2
    assert sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    ) == want
    assert compact_ingest_epochs(spark, out)["compacted"] == 0


def test_ingest_continues_after_compaction(spark, tmp_path):
    """End-to-end: ingest batches → compact the closed epochs → keep
    ingesting. The index is untouched by compaction (it lives beside the
    corpus), later batches screen correctly against everything ingested
    before AND after, and the corpus row multiset tracks exactly."""
    from kaer_spark.operators.dedup import build_minhash_index
    from kaer_spark.streaming.ingest import (
        compact_ingest_epochs,
        neardup_ingest_batch,
    )

    idx = str(tmp_path / "mh")
    out = str(tmp_path / "corpus")
    build_minhash_index(
        spark.createDataFrame(
            [(1, "seed reference document about nothing in particular")],
            "doc_id long, text string",
        ),
        idx, n=8, num_hashes=16, bands=4, seed=42,
    )
    t = {
        2: "first streamed document concerning catalyst rewrites",
        3: "second streamed document on adaptive query execution",
        4: "third streamed document about shuffle partitioning",
        5: "fourth streamed document regarding broadcast joins",
    }
    for e, (d, txt) in enumerate(t.items()):
        neardup_ingest_batch(
            spark.createDataFrame([(d, txt)], "doc_id long, text string"),
            e, idx, out, threshold=0.5,
        )
    assert compact_ingest_epochs(spark, out)["compacted"] == 3
    # a near-dup of a COMPACTED-away epoch's doc is still screened out
    # (the screen rides the index, which compaction never touches)
    neardup_ingest_batch(
        spark.createDataFrame(
            [(9, t[2])], "doc_id long, text string"
        ),
        9, idx, out, threshold=0.5,
    )
    # and a novel doc in the same forward path still lands
    neardup_ingest_batch(
        spark.createDataFrame(
            [(10, "a genuinely new document about columnar storage")],
            "doc_id long, text string",
        ),
        10, idx, out, threshold=0.5,
    )
    rows = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert rows == [2, 3, 4, 5, 10]
