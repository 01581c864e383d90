"""Structured-Streaming surface: streaming ingest (ids dense across
micro-batches), and stream-vs-batch answer equivalence for windowed aggs."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaer_spark.context import KaerContext
from kaer_spark.streaming.ingest import (
    sessionized_counts,
    stream_insert,
    streaming_dedup,
    windowed_event_counts,
)

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


def test_stream_equals_batch_windowed(spark, events_batch, tmp_path):
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(events_batch)
    )
    name = _run_stream(stream, windowed_event_counts, tmp_path, "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = spark.read.parquet(events_batch)
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(batch).collect()
    }
    assert got == want and len(want) > 0


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


def test_stream_insert_dense_ids(spark, tmp_path):
    """Streaming ingest: ids stay dense and strictly increasing across
    micro-batches (the reference's incremental-insert invariant)."""
    src = tmp_path / "src"
    os.makedirs(src)
    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("stream")

    schema = "batch INT, _m_doc STRING"
    spark.createDataFrame([(0, f"doc a{i}") for i in range(5)], schema).write.parquet(
        f"{src}/b0"
    )
    stream = (
        spark.readStream.schema("batch INT, _m_doc STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_insert(coll, stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    spark.createDataFrame([(1, f"doc b{i}") for i in range(3)], schema).write.parquet(
        f"{src}/b1"
    )
    q.processAllAvailable()
    q.stop()

    rows = coll.df().select("batch", "_m_id").collect()
    ids = sorted(r["_m_id"] for r in rows)
    assert ids == list(range(8))
    b0 = {r["_m_id"] for r in rows if r["batch"] == 0}
    assert b0 == set(range(5))  # second batch strictly after the first
    assert coll.meta["next_id"] == 8


def test_stream_insert_keeps_index_current(spark, tmp_path):
    """The materialized IVF index catches up after each
    micro-batch (the streaming form of the reference's inline
    HNSW-add-on-insert) — index row count and max_id track the collection."""
    from kaer_spark.operators.index_store import read_index_meta

    src = tmp_path / "src"
    os.makedirs(src)
    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("stream_idx")
    coll.insert([f"seed doc {i}" for i in range(8)])
    coll.build_index(cells=2, fit="deterministic")

    schema = "batch INT, _m_doc STRING"
    spark.createDataFrame([(0, f"late doc {i}") for i in range(4)], schema).write.parquet(
        f"{src}/b0"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_insert(coll, stream, str(tmp_path / "ckpt_idx"))
    q.processAllAvailable()
    q.stop()

    assert read_index_meta(coll.index_path)["max_id"] == 11
    indexed = spark.read.parquet(f"{coll.index_path}/data")
    assert indexed.count() == 12
    assert indexed.select("_m_id").distinct().count() == 12
    # the approximate path sees streamed rows immediately
    assert coll.query("late doc 2", k=12, approximate=True, nprobe=2).count() == 12


def test_watermark_late_data_semantics(spark, tmp_path):
    """Append-mode watermark contract: a late row arriving while its window
    is still open (event time above the current watermark) is aggregated;
    the same row arriving after the watermark passed its window end is
    DROPPED. Batch boundaries are forced with sequential writes +
    processAllAvailable, so the watermark advance between arrivals is
    deterministic (watermark updates at end-of-batch from that batch's max
    event time)."""
    from datetime import datetime

    src = tmp_path / "wsrc"
    os.makedirs(src)
    schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"

    def ev(h, m):
        return (datetime(2024, 1, 1, h, m), "click", 1.0)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    )
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    # batch 0: on-time rows at 01:30, 02:30 → watermark becomes 00:30
    spark.createDataFrame([ev(1, 30), ev(2, 30)], schema).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    q.processAllAvailable()
    # batch 1: 01:45 is LATE but above the 00:30 watermark → must be
    # aggregated; 10:30 then advances the watermark to 08:30, finalizing
    # (and emitting) the 01:00 and 02:00 windows
    spark.createDataFrame([ev(1, 45), ev(10, 30)], schema).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    q.processAllAvailable()
    # batch 2: 01:50 is now BELOW the 08:30 watermark (window closed) →
    # must be dropped; 11:30 keeps the stream advancing
    spark.createDataFrame([ev(1, 50), ev(11, 30)], schema).coalesce(1).write.parquet(
        f"{src}/b2"
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r["window_start"]: r["n"] for r in spark.sql("SELECT * FROM wm_out").collect()
    }
    # emitted finalized windows: 01:00 holds the on-time row AND the
    # accepted late row but NOT the dropped one; 02:00 holds its single row
    assert got == {
        datetime(2024, 1, 1, 1, 0): 2,
        datetime(2024, 1, 1, 2, 0): 1,
    }


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join ≡ the same function run on
    batch frames: every impression×click pair with the click 0-30 min
    after the impression, same user."""
    from datetime import datetime, timedelta

    from kaer_spark.streaming.ingest import stream_interval_join

    base = datetime(2024, 3, 1, 0, 0)
    imps = [
        (i, (i % 7), base + timedelta(minutes=3 * i)) for i in range(60)
    ]
    clicks = [
        (100 + i, (i % 5), base + timedelta(minutes=3 * i + (i % 11)))
        for i in range(60)
    ]
    imp_schema = "imp_id LONG, user_id LONG, ts TIMESTAMP"
    clk_schema = "click_id LONG, user_id LONG, cts TIMESTAMP"
    imp_dir, clk_dir = str(tmp_path / "imps"), str(tmp_path / "clicks")
    # two files per side → several micro-batches interleave
    spark.createDataFrame(imps[:30], imp_schema).coalesce(1).write.parquet(f"{imp_dir}/a")
    spark.createDataFrame(imps[30:], imp_schema).coalesce(1).write.parquet(f"{imp_dir}/b")
    spark.createDataFrame(clicks[:30], clk_schema).coalesce(1).write.parquet(f"{clk_dir}/a")
    spark.createDataFrame(clicks[30:], clk_schema).coalesce(1).write.parquet(f"{clk_dir}/b")

    def join(l, r):
        return stream_interval_join(
            l, r, keys=["user_id"], left_ts="ts", right_ts="cts",
            lower_s=0, upper_s=1800, watermark="1 hour",
        ).select("l.imp_id", "r.click_id")

    li = spark.readStream.schema(imp_schema).option("maxFilesPerTrigger", 1).parquet(f"{imp_dir}/*")
    ri = spark.readStream.schema(clk_schema).option("maxFilesPerTrigger", 1).parquet(f"{clk_dir}/*")
    q = (
        join(li, ri)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["imp_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    )
    want = sorted(
        (r["imp_id"], r["click_id"])
        for r in join(
            spark.read.parquet(f"{imp_dir}/*"), spark.read.parquet(f"{clk_dir}/*")
        ).collect()
    )
    assert got == want and len(want) > 0


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


def test_stream_insert_keeps_text_index_current(spark, tmp_path):
    """text_index_path: the inverted text index catches up after each
    micro-batch — a BM25 search over the index finds documents from every
    ingested batch, and the refreshed index equals a from-scratch
    rebuild."""
    from kaer_spark.operators.text_index import (
        build_text_index,
        read_text_index_meta,
        search_text_index,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("tstream")
    schema = "batch INT, _m_doc STRING"
    spark.createDataFrame(
        [(0, "alpha needle document"), (0, "plain filler text")], schema
    ).write.parquet(f"{src}/b0")

    tix = str(tmp_path / "tix")
    # prime the index on the (still empty) collection: build on first batch
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_insert(coll, stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    build_text_index(coll.df(), tix, id_col="_m_id", text_col="_m_doc")

    # second batch arrives; the refresh hook keeps the index current
    spark.createDataFrame(
        [(1, "beta needle arrives late"), (1, "more filler words")], schema
    ).write.parquet(f"{src}/b1")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q2 = stream_insert(
        coll, stream2, str(tmp_path / "ckpt"), text_index_path=tix
    )
    q2.processAllAvailable()
    q2.stop()

    meta = read_text_index_meta(tix)
    assert meta["n_docs"] == coll.count() == 4
    hits = {
        r["id"]
        for r in search_text_index(spark, tix, ["needle"], k=10).collect()
    }
    docs = {
        r["_m_id"]: r["_m_doc"] for r in coll.df().collect()
    }
    want = {i for i, d in docs.items() if "needle" in d}
    assert hits == want and len(hits) == 2  # one per batch


def test_streaming_bloom_decontaminate(spark, tmp_path):
    """Stateless Bloom screen on a stream: contaminated arrivals (sharing
    a word 3-gram with the benchmark set) are dropped in every
    micro-batch, clean arrivals pass, and the stream result equals the
    batch operator on the union of batches (stream ≡ batch contract)."""
    from kaer_spark.operators.contamination import (
        bloom_build,
        bloom_decontaminate,
    )
    from kaer_spark.streaming.ingest import streaming_bloom_decontaminate

    src = tmp_path / "bloomsrc"
    os.makedirs(src)
    schema = "doc_id LONG, text STRING"
    b0 = [(1, "the secret eval question about turtles"),
          (2, "a perfectly ordinary training document")]
    b1 = [(3, "another clean crawl page with words"),
          (4, "question about turtles and other copied eval text")]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/b1")
    test_set = spark.createDataFrame(
        [(100, "the secret eval question about turtles today")], schema
    )
    kw = dict(n=3, m_bits=1 << 12, k_hashes=4, seed=7)
    bloom = bloom_build(test_set, m_bits=kw["m_bits"], n=3,
                        k_hashes=4, seed=7)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        streaming_bloom_decontaminate(stream, bloom, **kw)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bloom_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM bloom_stream_out").collect()
    }
    batch_all = spark.createDataFrame(b0 + b1, schema)
    want = {
        r["doc_id"]
        for r in bloom_decontaminate(
            batch_all, test_set, n=3, m_bits=kw["m_bits"],
            k_hashes=4, seed=7,
        ).collect()
    }
    assert got == want == {2, 3}


def test_streaming_bloom_geometry_mismatch_fails_loudly(spark):
    """A probe whose m_bits/k_hashes/seed differ from the bitset row's
    recorded build parameters must RAISE, not silently fail open (a
    mismatched probe reads wrong bit positions and passes contaminated
    docs). The guard is woven into the filter expression, so it fires on
    batch evaluation too — tested here without a stream for speed."""
    import pytest

    from kaer_spark.operators.contamination import bloom_build
    from kaer_spark.streaming.ingest import streaming_bloom_decontaminate

    schema = "doc_id LONG, text STRING"
    docs = spark.createDataFrame([(1, "some words in a row here")], schema)
    bloom = bloom_build(
        spark.createDataFrame([(9, "benchmark words in a row")], schema),
        n=3, m_bits=1 << 12, k_hashes=4, seed=7,
    )
    # matching geometry: evaluates fine
    streaming_bloom_decontaminate(
        docs, bloom, n=3, m_bits=1 << 12, k_hashes=4, seed=7
    ).collect()
    # mismatched m_bits: must raise, not return rows
    with pytest.raises(Exception, match="bloom geometry mismatch"):
        streaming_bloom_decontaminate(
            docs, bloom, n=3, m_bits=1 << 13, k_hashes=4, seed=7
        ).collect()


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


def test_stream_insert_keeps_pq_index_current(spark, tmp_path):
    """pq_index_path: the at-rest PQ code table catches up after each
    micro-batch (O8 parity for the third index family — r13 verdict #4:
    it used to go stale until a manual refresh_pq_index). Streamed
    refreshes must be ROW-IDENTICAL to one batch refresh over the final
    corpus (same stored codebooks, same encoded tail), and all three
    index families ride the same stream."""
    from kaer_spark.operators.index_store import (
        build_pq_index,
        read_index_meta,
        read_pq_meta,
    )
    from kaer_spark.operators.text_index import (
        build_text_index,
        read_text_index_meta,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("pqstream")
    coll.insert([f"seed doc {i} words" for i in range(20)])
    coll.build_index(cells=2, fit="deterministic")
    coll.build_pq_index(m=8, k=16)
    tix = str(tmp_path / "tix")
    build_text_index(coll.df(), tix, id_col="_m_id", text_col="_m_doc")
    # the batch-path twin: same prefix corpus, same deterministic fit
    twin = str(tmp_path / "pq_twin")
    build_pq_index(
        coll.df(), twin, vec_col="_m_embedding", id_col="_m_id", m=8, k=16
    )

    schema = "batch INT, _m_doc STRING"
    for b in range(2):
        spark.createDataFrame(
            [(b, f"late doc {b}-{i} extra") for i in range(3)], schema
        ).write.parquet(f"{src}/b{b}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_insert(
        coll, stream, str(tmp_path / "ckpt_pq"),
        text_index_path=tix,
        pq_index_path=coll.pq_index_path,
    )
    q.processAllAvailable()
    q.stop()

    n = coll.count()
    assert n == 26
    # all three families current
    assert read_index_meta(coll.index_path)["max_id"] == 25
    assert read_text_index_meta(tix)["n_docs"] == 26
    assert read_pq_meta(coll.pq_index_path)["max_id"] == 25

    # stream (two incremental refreshes) == batch (one refresh at the end)
    from kaer_spark.operators.index_store import refresh_pq_index

    refresh_pq_index(coll.df(), twin)
    streamed = {
        (r["_m_id"], tuple(r["pq_code"]))
        for r in spark.read.parquet(f"{coll.pq_index_path}/data").collect()
    }
    batch = {
        (r["_m_id"], tuple(r["pq_code"]))
        for r in spark.read.parquet(f"{twin}/data").collect()
    }
    assert streamed == batch and len(streamed) == 26


def test_stream_insert_refreshes_each_owned_index_once(
    spark, tmp_path, monkeypatch
):
    """One micro-batch into a collection owning IVF and PQ, with
    ``pq_index_path`` naming the collection's own PQ directory: the
    insert already catches up every owned family, so each refresh runs
    exactly once — a second pass would be a no-op that still fires the
    tail-max job."""
    from kaer_spark.operators import index_store
    from kaer_spark.operators.index_store import read_index_meta, read_pq_meta

    calls = []
    for name in ("refresh_ivf_index", "refresh_pq_index"):
        def counted(df, path, _real=getattr(index_store, name), _name=name,
                    **kw):
            calls.append(_name)
            return _real(df, path, **kw)

        monkeypatch.setattr(index_store, name, counted)

    src = tmp_path / "src"
    os.makedirs(src)
    ctx = KaerContext(spark, str(tmp_path / "kaer"))
    coll = ctx.create_collection("once")
    coll.insert([f"seed doc {i}" for i in range(8)])
    coll.build_index(cells=2, fit="deterministic")
    coll.build_pq_index(m=4, k=2)

    schema = "batch INT, _m_doc STRING"
    spark.createDataFrame(
        [(0, f"late doc {i}") for i in range(3)], schema
    ).write.parquet(f"{src}/b0")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    q = stream_insert(
        coll, stream, str(tmp_path / "ckpt_once"),
        pq_index_path=coll.pq_index_path,
    )
    q.processAllAvailable()
    q.stop()

    assert sorted(calls) == ["refresh_ivf_index", "refresh_pq_index"]
    assert read_index_meta(coll.index_path)["max_id"] == 10
    assert read_pq_meta(coll.pq_index_path)["max_id"] == 10


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
