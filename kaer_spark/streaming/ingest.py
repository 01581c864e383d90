"""Structured-Streaming surface: streaming ingest into a collection and
event-time windowed aggregation.

The reference's closest analogue is incremental insert + every-1000-ids
index checkpoint (``/root/reference/db/db.go:91-97``) and
catch-up-from-last-id recovery (``db/db.go:191-207``). Here both collapse
onto Spark's own mechanics: ``foreachBatch`` gives exactly-once batch
appends, and the streaming checkpoint directory *is* the recovery cursor —
no bespoke meta rows.

Scale notes: the insert path is the batch insert path (same dense-id
allocation, same embedding stage) applied per micro-batch; state for
windowed aggs is bounded by the watermark, and ``session_window`` handles
gap-based sessionization without custom state code.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kaer_spark.context import INDEX_FAMILIES, Collection
from kaer_spark.operators import index_store, text_index
from kaer_spark.sources.files import read_parquet


def _fs_committed(spark: SparkSession, path: str) -> bool:
    """True iff a COMMITTED write exists at ``path`` — checked through the
    Hadoop FileSystem API (not ``os.path``), so ``out_dir`` may live on
    any Hadoop-supported filesystem (HDFS/S3A/local), and checked via the
    ``_SUCCESS`` job-commit marker rather than directory existence: a
    crashed write leaves the directory behind without the marker, and a
    half-written partition must NOT read as a finished epoch.

    The marker check is only sound when markers are being WRITTEN:
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` (a common
    S3/object-store tuning) would make every committed epoch read as
    uncommitted, so a genuine checkpoint replay would raise "duplicate
    delivery" on every retry and permanently wedge the stream — fail
    fast HERE instead, before any replay decision rides the marker."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore
    markers = conf.get(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
    )
    if str(markers).strip().lower() == "false":
        raise RuntimeError(
            "streaming ingest requires _SUCCESS job-commit markers "
            "(replay-vs-duplicate-delivery discrimination rides them), "
            "but mapreduce.fileoutputcommitter.marksuccessfuljobs=false "
            "in this session's Hadoop conf — re-enable markers for the "
            "ingest output filesystem or route out_dir elsewhere"
        )
    p = jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
        os.path.join(path, "_SUCCESS")
    )
    return p.getFileSystem(conf).exists(p)


def _assign_surrogate_ids(
    batch_df: DataFrame, id_col: str, base, order_col: str
) -> DataFrame:
    """Epoch-derived monotone surrogate ids for sources that have none
    (hash-keyed corpora): ``base + row_number`` over a content ordering —
    deterministic given the batch's content, so every downstream
    min-id-representative choice is stable. The global window sort is
    bounded by the micro-batch size by construction."""
    from pyspark.sql.window import Window

    base = int(base or 0)
    return batch_df.withColumn(
        id_col,
        (F.lit(base) + F.row_number().over(Window.orderBy(order_col)))
        .cast("long"),
    )


def _recover_hll_state(state_dir: str) -> None:
    """Heal the one crash window of the HLL state swap: a failure between
    the two renames leaves the previous (complete) state at
    ``<state_dir>.old`` and nothing at ``state_dir`` — restore it. The
    register merge is idempotent (per-register max), so the batch whose
    write crashed simply replays on the restored state."""
    old = state_dir + ".old"
    if not os.path.isdir(state_dir) and os.path.isdir(old):
        os.rename(old, state_dir)


def read_hll_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the persisted all-time HLL register state written by
    :func:`streaming_hll_ingest`, recovering the interrupted-swap leg
    first. Corruption and IO errors propagate — there is deliberately no
    empty-state fallback for an all-time distinct metric."""
    _recover_hll_state(state_dir)
    return read_parquet(spark, state_dir)


def stream_insert(
    collection: Collection,
    stream_df: DataFrame,
    checkpoint_dir: str,
    text_col: str = "_m_doc",
    trigger: dict[str, Any] | None = None,
    text_index_path: str | None = None,
    pq_index_path: str | None = None,
) -> StreamingQuery:
    """Continuously ingest a streaming DataFrame into a collection.

    Each micro-batch runs the normal insert path (dense ids continue from
    the collection's catalog cursor; single-writer semantics, matching the
    reference's process-local id counter, ``db/db.go:75``). That path
    catches up every index the collection owns (``Collection.insert_df``
    — the reference adds every inserted vector to its HNSW inline,
    ``db/db.go:95-99``; here each family appends the batch's id range, a
    file-pruned scan thanks to id-block clustering, or runs its
    idempotent ``id > max_id`` catch-up when its watermark lags), so each
    owned index refreshes exactly once per batch.

    ``text_index_path`` / ``pq_index_path`` (optional) keep an EXTERNAL
    inverted text index (``operators.text_index``) or PQ code table
    (``operators.index_store``) built over this collection current the
    same way: per batch, ``refresh_text_index`` appends only the tail's
    postings and advances the frozen corpus stats, and
    ``refresh_pq_index`` encodes the tail under the STORED codebooks (no
    refit — the codes stay comparable); the replay guard makes a
    crashed/replayed batch idempotent. A path that is the directory of a
    family the collection owns is skipped — the insert already refreshed
    it.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        collection.insert_df(batch_df, text_col=text_col)
        owned = {
            os.path.realpath(fam.dir_in(collection.path))
            for fam in INDEX_FAMILIES
            if collection.meta.get(fam.flag)
        }
        for path, refresh in (
            (text_index_path, text_index.refresh_text_index),
            (pq_index_path, index_store.refresh_pq_index),
        ):
            if path is not None and os.path.realpath(path) not in owned:
                refresh(collection.df(), path)

    writer = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Event-time tumbling-window counts/sums; works identically on a batch
    or streaming DataFrame (the batch run is the correctness oracle for the
    streaming one — tested in tests/test_streaming.py)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n",
            "sum_value",
        )
    )


def streaming_dedup(
    stream_df: DataFrame,
    fp_col: str,
    id_col: str,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """First-seen-wins exact dedup across micro-batches — the custom
    stateful operator (``applyInPandasWithState``) the built-in streaming
    ops can't express: ``dropDuplicates`` on a stream keys state the same
    way, but can't pick a *deterministic* representative inside a batch;
    here the min-``id_col`` row of the first batch containing a fingerprint
    is emitted and every later arrival is dropped.

    State = one empty marker row per distinct fingerprint (the grouping key
    itself carries the value). At 100 TB-of-stream scale the state store is
    the bound — set ``ttl_minutes`` so fingerprints expire once re-arrivals
    stop being possible (the dedup analogue of a watermark); RocksDB state
    store + changelog checkpointing on a real cluster.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream_df.schema
    fields = [f.name for f in out_schema.fields]

    def dedup_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # already emitted — but Spark clears the timeout every time the
            # function runs for a key, so re-ARM it or a single re-arrival
            # would make this fingerprint's state immortal
            if ttl_minutes is not None:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        state.update((1,))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield batch.sort_values(id_col).head(1)[fields]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream_df.groupBy(fp_col).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType="seen INT",
        outputMode="append",
        timeoutConf=timeout,
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows (native ``session_window`` — the streaming
    twin of the batch lag+cumsum sessionization in ``__spark_entry__``)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("sess"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (the streaming twin of
    ``operators.interval.interval_join``): right rows within
    ``[left_ts + lower_s, left_ts + upper_s)`` seconds, equi-keyed.

    Both sides are watermarked and the band is expressed as event-time
    INTERVAL arithmetic, which is the exact form Spark's streaming planner
    needs to derive state-eviction bounds — each side's join state is
    purged once the watermark passes the farthest point the band can still
    match, so state is O(watermark × rate), not unbounded. On batch
    DataFrames the same function degrades to a plain band join, which is
    the oracle the stream run is tested against (stream ≡ batch,
    tests/test_streaming.py).
    """
    lsrc = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rsrc = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    l, r = lsrc.alias("l"), rsrc.alias("r")
    cond = F.expr(
        f"r.{right_ts} >= l.{left_ts} + INTERVAL {int(lower_s)} SECOND"
    ) & F.expr(f"r.{right_ts} < l.{left_ts} + INTERVAL {int(upper_s)} SECOND")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return l.join(r, cond, how)


def stream_refresh_rollup(
    stream_df: DataFrame,
    source_path: str,
    rollup_path: str,
    checkpoint_dir: str,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Continuous aggregate: keep a materialized time_bucket rollup fresh
    as new event files land.

    The stream is only the CHANGE SIGNAL — each micro-batch triggers
    ``refresh_rollup`` against the full batch view of the source, which
    recomputes exactly the day partitions at/after the rollup's high-water
    mark (minus its lateness allowance) and overwrites them atomically.
    This is the TimescaleDB continuous-aggregate refresh model on Spark
    mechanics: foreachBatch gives exactly-once refresh scheduling via the
    streaming checkpoint, and the refresh itself is idempotent (dynamic
    partition overwrite), so a replayed batch re-writes the same bytes.
    Requires the rollup to exist (``materialize_rollup``).
    """
    from kaer_spark.operators.rollup import refresh_rollup

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        refresh_rollup(read_parquet(spark, source_path), rollup_path)

    writer = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def streaming_dedup_against(
    stream_df: DataFrame,
    reference: DataFrame,
    fp_col: str,
    id_col: str,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming ingest hygiene in one operator: drop arrivals whose
    fingerprint already exists in a STATIC reference corpus (the batch
    ``dedup_against`` contract — keep only novel documents), then
    first-seen-wins dedup WITHIN the stream (:func:`streaming_dedup`).

    The reference filter is a stream-static LEFT ANTI join — stateless,
    re-planned per micro-batch, so a reference refresh (new parquet
    snapshot) is picked up without touching the stream's state store. Only
    the distinct fingerprints of the reference are joined (never its
    payload), and only stream rows that survive it reach the stateful
    dedup, keeping the state store bounded by NOVEL fingerprints — on a
    decontamination workload that's the small minority of arrivals.
    """
    ref_fps = reference.select(F.col(fp_col)).distinct()
    novel = stream_df.join(ref_fps, fp_col, "left_anti")
    return streaming_dedup(novel, fp_col, id_col, ttl_minutes)


def streaming_bloom_decontaminate(
    stream_df: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    n: int = 13,
    unit: str = "word",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 1337,
) -> DataFrame:
    """Streaming twin of ``contamination.bloom_decontaminate``: drop every
    arrival containing a Bloom-positive n-gram against the STATIC bitset
    built by ``contamination.bloom_build`` (``bloom`` is that one-row
    DataFrame; the m_bits/k_hashes/seed parameters must match the build).

    Why the Bloom shape specifically for streams: the exact stream-static
    LEFT ANTI screen (:func:`streaming_dedup_against`) joins every
    micro-batch against the reference's distinct-fingerprint set — fine
    when the reference is one corpus, but an eval-decontamination screen
    covering hundreds of benchmark suites re-reads and re-joins that whole
    set per batch. Here the static side is ONE row (O(m/8) bytes however
    many suites the bitset absorbs); the stream-static inner join
    broadcasts it, the membership test is inline bit arithmetic inside the
    batch's scan, and — because the static side is re-planned per
    micro-batch — REBUILDING the bitset file-backed picks up newly
    registered benchmarks without restarting the stream or touching any
    state store (the operator is stateless; false positives only ever
    over-drop, the safe direction for decontamination).
    """
    from kaer_spark.operators.contamination import _bloom_member, _grams
    from kaer_spark.operators.dedup import _poly_hash, minhash_coeffs

    coeffs = minhash_coeffs(k_hashes, seed)
    joined = stream_df.join(F.broadcast(bloom), F.lit(True), "inner")
    fps = F.transform(_grams(text_col, n, unit), lambda g: _poly_hash(g))
    clean = ~F.exists(
        fps, lambda fp: _bloom_member(fp, F.col("words"), coeffs, m_bits)
    )
    # geometry guard: probing with mismatched m_bits/k_hashes/seed would
    # silently fail OPEN (contaminated docs pass the screen — the unsafe
    # direction), so the filter refuses to evaluate against a bitset row
    # whose recorded build parameters differ from the probe's. Woven into
    # the per-batch expression (not checked once at setup) because the
    # static side re-plans every micro-batch: a bitset REBUILT mid-stream
    # with different geometry must also fail loudly.
    meta_ok = (
        (F.col("m_bits") == F.lit(int(m_bits)))
        & (F.col("k_hashes") == F.lit(int(k_hashes)))
        & (F.col("seed") == F.lit(int(seed)))
    )
    guard = F.when(
        meta_ok, F.lit(True)
    ).otherwise(
        F.raise_error(
            F.format_string(
                "bloom geometry mismatch: probe (m_bits=%s, k_hashes=%s, "
                "seed=%s) vs built (m_bits=%%s, k_hashes=%%s, seed=%%s)"
                % (int(m_bits), int(k_hashes), int(seed)),
                F.col("m_bits"), F.col("k_hashes"), F.col("seed"),
            )
        ).cast("boolean")
    )
    return joined.filter(guard & clean).select(*stream_df.columns)


def streaming_hll_ingest(
    stream_df: DataFrame,
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    p: int = 12,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Maintain an all-time HLL distinct sketch over a stream — the
    streaming twin of ``sketches.hll_registers``/``hll_merge``: each
    micro-batch's register table merges (per-register max — EXACT, merge
    of batches ≡ sketch of their union bit-for-bit) into the persisted
    state at ``state_dir``, so "distinct values ever seen" is answered
    at any moment by ``hll_estimate(read_parquet(spark, state_dir))``
    without re-scanning history.

    State is SKETCH-sized by construction (≤ 2^p rows — 4096 at the
    default), so the merge collects both sides driver-side and writes
    one tiny parquet per batch: deliberately NOT a distributed
    union+groupBy, which could not overwrite the directory it is reading
    within one job. This is the operator's whole point at 100 TB: the
    stream's distinct-counting state never grows with the data. The
    streaming checkpoint gives at-least-once sink calls; the merge is
    idempotent (max), so a replayed batch rewrites the same registers.

    Crash safety: the state write is an atomic local-fs swap (write to
    ``<state_dir>.tmp``, rename the live dir aside, rename tmp in — the
    ``Collection.delete`` rewrite pattern), so at every instant a
    COMPLETE prior state exists on disk; a crash between the two renames
    is healed by :func:`read_hll_state`/the next batch. Only the
    path-missing case is treated as "first batch" — a corrupt or
    unreadable state dir FAILS the stream instead of silently resetting
    the all-time sketch to the current batch (the unsafe direction for
    an all-time distinct metric). On an object store replace the swap
    with the store's atomic-commit primitive.
    """
    from kaer_spark.operators.sketches import hll_registers

    m = 1 << int(p)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        regs = {
            int(r["idx"]): int(r["mj"])
            for r in hll_registers(batch_df, value_col, p).collect()
        }
        _recover_hll_state(state_dir)
        if os.path.isdir(state_dir):
            # Any failure here (torn write, IO/permission error, corrupt
            # footer) PROPAGATES and fails the stream — swallowing it
            # would silently undercount every value seen before this
            # batch. Path-missing is the one legitimate absence.
            for r in read_parquet(spark, state_dir).collect():
                i = int(r["idx"])
                regs[i] = max(regs.get(i, 0), int(r["mj"]))
        if len(regs) > m:
            raise AssertionError(f"register count {len(regs)} > m={m}")
        import pandas as pd

        tmp = state_dir + ".tmp"
        spark.createDataFrame(
            pd.DataFrame(
                sorted(regs.items()), columns=["idx", "mj"]
            ).astype({"idx": "int64", "mj": "int32"}),
            "idx long, mj int",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        old = state_dir + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    writer = (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_neardup_ingest(
    stream_df: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    self_dedup: bool = True,
    trigger: dict[str, Any] | None = None,
    assign_ids: bool = False,
    order_col: str | None = None,
) -> StreamingQuery:
    """Online NEAR-dup corpus ingest — the streaming composition the two
    r14 pieces exist for: every micro-batch is screened against the
    at-rest MinHash index (``dedup.build_minhash_index``), the survivors
    are appended to the corpus at ``out_dir``, and the index is advanced
    with exactly those survivors (``dedup.refresh_minhash_index``) so the
    NEXT batch screens against everything ingested so far. The exact
    fingerprint twin (:func:`streaming_dedup_against`) catches only
    byte-identical re-crawls; this catches boilerplate re-wraps and
    near-copies at the Jaccard ``threshold``, with the exact verify
    inside the band join as in the batch operator.

    Per-batch semantics (deterministic, batch-replayable — pinned
    stream ≡ batch in tests): a doc survives iff (a) it has no near-dup
    among PREVIOUSLY ingested docs, and (b) under ``self_dedup``, it is
    the min-id representative of its within-batch near-dup cluster
    (``dedup.dedup_representatives`` closure).

    Crash/replay safety, by construction rather than epoch bookkeeping:

    * the screen's reference side is restricted to ``right_id <
      min(batch ids)`` — under the engine's monotone-id ingest contract
      (the reference's process-local id counter, ``db/db.go:75``) that
      is exactly "everything ingested before this batch", and it stays
      exactly that on a replay whose index refresh already landed, so
      survivors recompute identically;
    * the corpus append goes to ``out_dir/epoch=<id>`` — and a replayed
      epoch (ids at-or-below the flipped watermark, committed partition
      present) is NOT rewritten: the watermark flip happens after the
      corpus write, so a covered batch's partition is provably final
      (read the corpus as ``read_parquet(spark, out_dir)``; the epoch
      partition column is incidental);
    * the index refresh is the watermark catch-up — a replayed batch is
      at-or-below the flipped watermark and no-ops, a crash between its
      two appends heals via the per-append anti-joins.

    Out-of-order ids violate the monotone contract and are REFUSED
    loudly (a silent skip would fail open: the doc would land in the
    corpus unscreened-against forever). The discriminator is structural:
    a batch straddling the watermark mixes replayed and new rows —
    always refused; a batch entirely at-or-below it is either a
    checkpoint replay (its epoch partition is committed, because the
    corpus write PRECEDES the index refresh) or duplicate source
    delivery under a fresh epoch (no committed partition — refused).
    Sources WITHOUT monotone ids (hash-keyed corpora) opt into
    ``assign_ids=True``: ``id_col`` is assigned in the batch body as
    ``watermark + row_number`` over ``order_col`` (default ``text_col``),
    restoring the contract by construction — see
    :func:`neardup_ingest_batch`.

    Placement contract: ``index_path`` must be DRIVER-LOCAL — its
    sidecar flips through ``sources.files.write_sidecar`` (a local tmp
    file + ``os.replace``, the engine-wide atomic flip). ``out_dir`` and ``checkpoint_dir`` may live
    on any Hadoop-supported filesystem: epoch-partition existence is
    checked through the Hadoop FileSystem API against the ``_SUCCESS``
    commit marker, never ``os.path``.

    At 100 TB-of-stream scale: state lives in the at-rest index (parquet,
    id-pruned scans), NOT the streaming state store — the per-batch cost
    is the query side's signature pass plus band equi-joins, and the
    reference side grows only by survivors."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        neardup_ingest_batch(
            batch_df, epoch_id, index_path, out_dir,
            id_col=id_col, text_col=text_col, threshold=threshold,
            self_dedup=self_dedup, assign_ids=assign_ids,
            order_col=order_col,
        )

    writer = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()

def neardup_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    self_dedup: bool = True,
    assign_ids: bool = False,
    order_col: str | None = None,
) -> None:
    """One :func:`stream_neardup_ingest` micro-batch — module-level so the
    replay paths are directly testable and so a user-owned
    ``foreachBatch`` can compose it with other sinks. See the streaming
    wrapper's docstring for the semantics and the crash-window analysis;
    the load-bearing ordering here is corpus write BEFORE index refresh
    (a COMMITTED partition is what distinguishes a replay from duplicate
    delivery — and a replayed epoch is never rewritten, because wm >= hi
    proves the partition final and an overwrite would reopen the
    delete-then-crash window).

    ``assign_ids=True`` is the surrogate-id recipe for sources without
    monotone ids (hash-keyed corpora): ``id_col`` is ASSIGNED in the
    batch body as ``watermark + row_number`` over ``order_col`` (default
    ``text_col``), so the monotone contract holds by construction; epoch
    replay is then discriminated by the committed partition alone, and
    duplicate source delivery fails safe through the content screen
    instead of the id check. To make that screen airtight the index in
    surrogate mode advances with the FULL batch — survivors AND dropped
    docs — because a doc dropped as a non-adjacent member of a
    transitive self-dedup cluster near-dups nothing among the survivors:
    were only survivors indexed, its re-delivery would re-ingest it
    under a fresh id. Indexing every screened signature means any
    re-delivered doc collides with its own prior signature (identical
    content ⟹ identical bands ⟹ Jaccard 1). In surrogate mode the
    index is therefore a SEEN-CONTENT screen, not a corpus mirror — by
    contract, since this mode exists precisely for content-keyed
    sources. One narrow residual window: a crash between the corpus
    write and the index refresh heals the index from the committed
    partition, which holds only survivors, so THAT epoch's dropped-doc
    signatures are lost and its transitively-dropped members degrade to
    direct-duplicate screening on later re-delivery."""
    from kaer_spark.operators.dedup import (
        dedup_clusters,
        dedup_representatives,
        minhash_near_dups,
        minhash_near_dups_against_index,
        minhash_signatures,
        read_minhash_index_meta,
        refresh_minhash_index,
    )

    spark = batch_df.sparkSession
    meta = read_minhash_index_meta(index_path)
    wm = meta.get("max_id")

    def refresh(frame: DataFrame, **kw) -> dict:
        # the index's docs/ append reads ids and text under the SIDECAR's
        # names, which this sink's id_col/text_col need not match
        return refresh_minhash_index(
            frame.select(
                F.col(id_col).alias(meta["id_col"]),
                F.col(text_col).alias(meta["text_col"]),
            ),
            index_path, **kw,
        )

    epoch_path = os.path.join(out_dir, f"epoch={int(epoch_id)}")
    committed = _fs_committed(spark, epoch_path)
    if assign_ids:
        # surrogate-id mode (hash-keyed sources): replay is discriminated
        # by the COMMITTED epoch partition alone. A committed partition
        # means the survivors are final — heal the index from it (no-op
        # if the refresh also landed) and never recompute; a duplicate
        # source delivery gets fresh ids and fails SAFE through the
        # content screen itself (the original delivery indexed the FULL
        # batch, so every re-delivered doc collides with its own stored
        # signature — identical content, identical bands, Jaccard 1).
        if committed:
            part = read_parquet(spark, epoch_path)
            mx = part.agg(F.max(F.col(id_col))).collect()[0][0]
            if mx is not None:
                refresh(part, advance_to=mx)
            return
        batch_df = _assign_surrogate_ids(
            batch_df, id_col, wm, order_col or text_col
        )
    bounds = batch_df.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # empty batch — the bounds aggregate doubles as the emptiness
        # guard (one batch scan instead of a separate isEmpty pass)
        return
    if wm is not None and lo <= wm:
        if hi > wm:
            # a true replay sits ENTIRELY at-or-below the watermark; a
            # batch straddling it mixes replayed and out-of-order rows —
            # refuse rather than half-screen it
            raise ValueError(
                f"stream_neardup_ingest: batch ids [{lo}, {hi}] straddle "
                f"the index watermark {wm} — the monotone-id ingest "
                "contract is violated (or two writers share one index)"
            )
        if not committed:
            # all-below + no committed epoch partition: the corpus write
            # precedes the refresh, so a genuine replay would have left
            # the committed partition behind — this is duplicate source
            # delivery under a fresh epoch, which would re-ingest
            # already-indexed docs
            raise ValueError(
                f"stream_neardup_ingest: batch ids [{lo}, {hi}] are all "
                f"at-or-below the index watermark {wm} but epoch "
                f"{int(epoch_id)} has no committed partition at "
                f"{epoch_path!r} — duplicate delivery, not a checkpoint "
                "replay"
            )
        # genuine replay: wm >= hi proves the refresh flipped, which
        # proves the corpus write COMPLETED before it — the partition is
        # final, so rewrite nothing. (Rewriting here would reopen a crash
        # window: overwrite deletes the partition first, and a crash
        # before the rewrite finishes leaves the watermark covering a
        # batch with no partition on disk — every later replay would then
        # read as duplicate delivery and wedge the stream.)
        return
    batch = batch_df.localCheckpoint(eager=False)
    # ONE signature pass per batch, shared by the screen's band keys and
    # exact verify, the in-batch self-dedup, and the index refresh — the
    # naive composition signs the same documents three times, and the
    # signature pass (shingle fingerprints over full text) is the
    # dominant per-batch CPU. All three consumers hash under the
    # sidecar's params by construction, so the shared pass cannot drift.
    sig = minhash_signatures(
        batch, id_col, text_col, meta["n"], meta["num_hashes"],
        meta["seed"], meta["unit"],
    ).localCheckpoint(eager=False)
    hits = minhash_near_dups_against_index(
        spark, index_path, batch, left_id_col=id_col,
        text_col=text_col, threshold=threshold, presigned=sig,
    ).filter(F.col("right_id") < F.lit(lo))
    # checkpoint the POST-SCREEN survivors: without the barrier the whole
    # screen chain (band equi-join against the at-rest index + exact
    # verify + anti-join) is recomputed by every downstream consumer —
    # the self-dedup semi-join, the pair generation, the representatives
    # anti-join, and the final write each replay it from the scan
    survivors = batch.join(
        hits.select(F.col("left_id").alias(id_col)).distinct(),
        [id_col],
        "left_anti",
    ).localCheckpoint(eager=False)
    if self_dedup:
        ssig = sig.join(
            survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        pairs = minhash_near_dups(
            survivors, id_col=id_col, text_col=text_col,
            n=meta["n"], num_hashes=meta["num_hashes"],
            bands=meta["bands"], threshold=threshold,
            seed=meta["seed"], unit=meta["unit"], presigned=ssig,
        )
        survivors = dedup_representatives(
            survivors, dedup_clusters(pairs), id_col=id_col
        ).localCheckpoint(eager=False)
    survivors.write.mode("overwrite").parquet(epoch_path)
    # advance_to=hi: dropped docs are DECIDED even though never stored —
    # without the floor, a replayed batch whose max id was dropped would
    # straddle the watermark and read as an out-of-order arrival.
    # Surrogate mode indexes the FULL batch (see the assign_ids contract
    # above): dropped docs' signatures must stay in the screen or a
    # transitively-dropped doc's re-delivery slips through. `sig` already
    # covers the whole batch, so the refresh pays no extra signing.
    refresh(batch if assign_ids else survivors, advance_to=hi, presigned=sig)


def stream_embedding_neardup_ingest(
    stream_df: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    self_dedup: bool = True,
    trigger: dict[str, Any] | None = None,
    assign_ids: bool = False,
    order_col: str | None = None,
) -> StreamingQuery:
    """The embedding twin of :func:`stream_neardup_ingest` — online
    SEMANTIC near-dup ingest: every micro-batch of vectors is screened
    against the at-rest sign-LSH index (``dedup.build_signlsh_index``,
    exact-cosine verify inside the band join), survivors land at
    ``out_dir/epoch=<id>`` and advance the index
    (``dedup.refresh_signlsh_index``), so the next batch screens against
    everything ingested so far. Same per-batch semantics, the same
    structural replay safety (committed-partition discriminator through
    the Hadoop FileSystem API, no replay rewrite), the same loud refusal
    of straddling/duplicate-delivery batches, the same ``assign_ids``
    surrogate-id mode, and the same placement contract (``index_path``
    driver-local; ``out_dir``/``checkpoint_dir`` any Hadoop FS) as the
    text twin — see :func:`neardup_ingest_batch` for the crash-window
    analysis; the logic lives in
    :func:`embedding_neardup_ingest_batch`."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        embedding_neardup_ingest_batch(
            batch_df, epoch_id, index_path, out_dir,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
            self_dedup=self_dedup, assign_ids=assign_ids,
            order_col=order_col,
        )

    writer = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def embedding_neardup_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    self_dedup: bool = True,
    assign_ids: bool = False,
    order_col: str | None = None,
) -> None:
    """One :func:`stream_embedding_neardup_ingest` micro-batch — the
    vector mirror of :func:`neardup_ingest_batch` (same ordering: corpus
    write BEFORE index refresh; same discriminators, including the
    no-rewrite replay path and the ``assign_ids`` surrogate-id mode for
    sources without monotone ids — surrogate ordering defaults to the
    vector column itself, which Spark orders lexicographically).
    Within-batch self-dedup runs ``embedding_near_dups_lsh`` through the
    SIDECAR's plane geometry, so the in-batch candidates and the index
    screen can never hash differently."""
    from kaer_spark.operators.dedup import (
        dedup_clusters,
        dedup_representatives,
        embedding_dups_against_index,
        embedding_near_dups_lsh,
        read_signlsh_index_meta,
        refresh_signlsh_index,
    )

    spark = batch_df.sparkSession
    meta = read_signlsh_index_meta(index_path)
    wm = meta.get("max_id")
    epoch_path = os.path.join(out_dir, f"epoch={int(epoch_id)}")
    committed = _fs_committed(spark, epoch_path)
    if assign_ids:
        # surrogate-id mode — see neardup_ingest_batch: committed
        # partition = final survivors, heal the index from it; duplicate
        # delivery fails safe through the cosine screen
        if committed:
            part = read_parquet(spark, epoch_path)
            mx = part.agg(F.max(F.col(id_col))).collect()[0][0]
            if mx is not None:
                refresh_signlsh_index(part, index_path, advance_to=mx)
            return
        batch_df = _assign_surrogate_ids(
            batch_df, id_col, wm, order_col or vec_col
        )
    bounds = batch_df.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        # empty batch — the bounds aggregate doubles as the emptiness
        # guard (one batch scan instead of a separate isEmpty pass)
        return
    if wm is not None and lo <= wm:
        if hi > wm:
            raise ValueError(
                f"stream_embedding_neardup_ingest: batch ids [{lo}, {hi}] "
                f"straddle the index watermark {wm} — the monotone-id "
                "ingest contract is violated (or two writers share one "
                "index)"
            )
        if not committed:
            raise ValueError(
                f"stream_embedding_neardup_ingest: batch ids [{lo}, {hi}] "
                f"are all at-or-below the index watermark {wm} but epoch "
                f"{int(epoch_id)} has no committed partition at "
                f"{epoch_path!r} — duplicate delivery, not a checkpoint "
                "replay"
            )
        # genuine replay: partition proved final (wm >= hi ⟹ refresh
        # flipped ⟹ corpus write completed) — rewrite nothing
        return
    batch = batch_df.localCheckpoint(eager=False)
    hits = embedding_dups_against_index(
        spark, index_path, batch, left_id_col=id_col,
        vec_col=vec_col, threshold=threshold,
    ).filter(F.col("right_id") < F.lit(lo))
    # checkpoint the POST-SCREEN survivors: the screen chain (band
    # equi-join against the at-rest index + exact-cosine verify +
    # anti-join) is the dominant per-batch cost, and without the barrier
    # it is recomputed by every downstream consumer — the isEmpty guard,
    # the self-dedup candidate join (which references survivors three
    # times: band keys + both verify sides), the representatives
    # anti-join, and the final write each replay it from the scan
    survivors = batch.join(
        hits.select(F.col("left_id").alias(id_col)).distinct(),
        [id_col],
        "left_anti",
    ).localCheckpoint(eager=False)
    # empty-survivor guard: a batch the screen drops ENTIRELY (every
    # vector near-dups the index — routine under duplicate re-delivery
    # in surrogate mode) must still commit its empty epoch partition and
    # advance the watermark, but self-dedup would try to infer the
    # vector dimension from zero rows and raise
    if self_dedup and not survivors.isEmpty():
        pairs = embedding_near_dups_lsh(
            survivors, id_col=id_col, vec_col=vec_col,
            threshold=threshold, bands=meta["bands"],
            bits_per_band=meta["bits_per_band"], seed=meta["seed"],
            dim=meta["dim"],
        )
        survivors = dedup_representatives(
            survivors, dedup_clusters(pairs), id_col=id_col
        ).localCheckpoint(eager=False)
    survivors.write.mode("overwrite").parquet(epoch_path)
    # surrogate mode indexes the FULL batch (seen-content screen, not a
    # corpus mirror — see neardup_ingest_batch's assign_ids contract):
    # a vector dropped as a transitive cluster member near-dups no
    # survivor, so only its own stored signature can catch re-delivery
    refresh_signlsh_index(
        batch if assign_ids else survivors, index_path, advance_to=hi
    )


# -- closed-epoch compaction --------------------------------------------------
# The ingest sinks write one `epoch=N/` partition per micro-batch; at
# production cadence that is the classic small-files failure this repo's
# own sources/files.py warns about (thousands of tiny partitions, one
# parquet footer each, NameNode/listing pressure and a scan task per
# splinter). The compactor below consolidates CLOSED epochs while
# preserving the replay contract: every absorbed epoch keeps a COMMITTED
# (`_SUCCESS`-marked) tombstone partition, so `_fs_committed` still
# discriminates a checkpoint replay from duplicate delivery exactly as
# before (a replayed tombstone epoch is a no-op in both id modes).


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, Path-class) for ``path_str`` through the Hadoop
    API — the compactor works on any Hadoop-supported filesystem, same
    placement contract as the ingest sinks themselves."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # type: ignore
    pcls = jvm.org.apache.hadoop.fs.Path  # type: ignore[union-attr]
    p = pcls(path_str)
    return p.getFileSystem(conf), p, pcls


def _fs_list_committed_epochs(
    spark: SparkSession, out_dir: str
) -> dict[int, str]:
    """``{epoch → path}`` for every COMMITTED ``epoch=N`` partition under
    ``out_dir`` (the `_SUCCESS` marker decides, exactly as in
    :func:`_fs_committed`); uncommitted stragglers are skipped, never
    compacted."""
    fs, root, pcls = _hadoop_fs(spark, out_dir)
    if not fs.exists(root):
        return {}
    out: dict[int, str] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("epoch=")):
            continue
        try:
            e = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if fs.exists(pcls(st.getPath(), "_SUCCESS")):
            out[e] = os.path.join(out_dir, name)
    return out


def _swap_in_epoch(fs, pcls, out_dir: str, tmp_dir: str, old_dir: str,
                   epoch: int) -> None:
    """One epoch's atomic-ish swap leg, idempotent for the recovery
    replay: move the live partition aside (skip if a prior attempt
    already did), then move the prepared replacement in (skip if already
    in — i.e. the tmp source is gone)."""
    tsrc = pcls(os.path.join(tmp_dir, f"epoch={epoch}"))
    if not fs.exists(tsrc):
        return  # this epoch's swap already completed
    live = pcls(os.path.join(out_dir, f"epoch={epoch}"))
    moved = pcls(os.path.join(old_dir, f"epoch={epoch}"))
    if fs.exists(live):
        if fs.exists(moved):
            raise RuntimeError(
                f"epoch compaction found BOTH a live and a moved-aside "
                f"partition for epoch {epoch} under {out_dir!r} — refusing "
                "to guess; resolve manually"
            )
        fs.mkdirs(pcls(old_dir))
        if not fs.rename(live, moved):
            raise RuntimeError(
                f"epoch compaction could not move epoch {epoch} aside"
            )
    if not fs.rename(tsrc, live):
        raise RuntimeError(
            f"epoch compaction could not move the prepared partition for "
            f"epoch {epoch} into place"
        )


def _fs_read_json(spark: SparkSession, path_str: str) -> dict:
    """Read a small JSON sidecar through the Hadoop FS stream API —
    ``spark.read`` can NOT do this: dot/underscore-prefixed names (and
    everything under a dot-prefixed dir, which is exactly where the
    compaction manifest hides from partition discovery) are filtered as
    hidden by Spark's file index even when addressed explicitly."""
    import json as _json

    fs, p, _ = _hadoop_fs(spark, path_str)
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        body = jvm.org.apache.commons.io.IOUtils.toString(  # type: ignore
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return _json.loads(body)


def _fs_write_json(spark: SparkSession, path_str: str, payload: dict) -> None:
    import json as _json

    fs, p, _ = _hadoop_fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(_json.dumps(payload), "utf-8"))
    finally:
        out.close()


def recover_epoch_compaction(spark: SparkSession, out_dir: str) -> bool:
    """Heal an interrupted :func:`compact_ingest_epochs`. The manifest is
    the commit point: written only after EVERY prepared partition landed
    committed under ``.compact_tmp``, so its presence means roll FORWARD
    (finish the swaps — each leg is idempotent), and its absence means
    the preparation never completed — roll BACK by discarding the tmp
    dir (the live partitions were never touched; swaps start only after
    the manifest exists). Leftover ``.compact_old`` with no manifest is
    the already-swapped originals of a compaction that crashed during
    final cleanup — safe to drop. Returns True if it found anything to
    heal."""
    tmp_dir = os.path.join(out_dir, ".compact_tmp")
    old_dir = os.path.join(out_dir, ".compact_old")
    fs, _, pcls = _hadoop_fs(spark, out_dir)
    manifest = pcls(os.path.join(tmp_dir, "_MANIFEST.json"))
    if not fs.exists(manifest):
        healed = False
        for leftover in (tmp_dir, old_dir):
            p = pcls(leftover)
            if fs.exists(p):
                fs.delete(p, True)
                healed = True
        return healed
    m = _fs_read_json(spark, os.path.join(tmp_dir, "_MANIFEST.json"))
    for e in m["epochs"]:
        _swap_in_epoch(fs, pcls, out_dir, tmp_dir, old_dir, int(e))
    fs.delete(pcls(tmp_dir), True)
    if fs.exists(pcls(old_dir)):
        fs.delete(pcls(old_dir), True)
    return True


def compact_ingest_epochs(
    spark: SparkSession,
    out_dir: str,
    max_epoch: int | None = None,
    target_bytes: int = 128 << 20,
) -> dict:
    """Consolidate CLOSED ingest epochs under ``out_dir`` into one
    target-file-sized partition plus committed zero-row tombstones —
    the maintenance half of the streaming ingest contract (r15 verdict
    #4: the sinks never compacted, so production cadence accumulates
    one small partition per micro-batch forever).

    What it does: every committed epoch ≤ the horizon (``max_epoch``,
    default one below the NEWEST committed epoch — the newest stays
    untouched because it is the only one a checkpoint replay can still
    redeliver with work attached) is unioned and rewritten as
    ``epoch=<highest-candidate>`` coalesced to ``ceil(bytes /
    target_bytes)`` files; every lower candidate becomes a zero-row,
    ``_SUCCESS``-committed tombstone. Readers of ``out_dir`` see the
    identical row multiset (pytest-pinned screen equivalence); the
    ``epoch`` partition value of absorbed rows becomes the consolidated
    epoch — arrival-epoch lineage is traded for the file count, which is
    the point of compaction (run it only when you don't need per-epoch
    provenance anymore).

    Rewrite amplification is bounded by the ``.compact_through.json``
    sidecar: each run consolidates only epochs above the previous run's
    horizon, so periodic compaction rewrites one period's data, never
    the corpus's whole history, and a back-to-back rerun is a no-op.

    Crash safety (the HLL-state / rewrite-swap discipline): everything
    is PREPARED under ``.compact_tmp`` first (dot-prefixed ⇒ invisible
    to partition discovery), a manifest is written as the commit point,
    and only then are live partitions swapped (moved aside to
    ``.compact_old``, replacement moved in — per-epoch, idempotent).
    A crash anywhere is healed by :func:`recover_epoch_compaction`
    (called here first, so back-to-back runs self-heal): forward after
    the manifest, backward before it; committed data is never the only
    copy in motion. Run with the stream STOPPED (or between triggers) —
    a reader racing the swap window can see an epoch mid-move.

    Returns ``{"compacted": n, "into": epoch, "files": k, "bytes": b}``
    (``compacted=0`` when there's nothing to do)."""
    from functools import reduce

    healed = recover_epoch_compaction(spark, out_dir)
    epochs = _fs_list_committed_epochs(spark, out_dir)
    if not epochs:
        return {"compacted": 0, "healed": healed}
    newest = max(epochs)
    horizon = newest - 1 if max_epoch is None else min(max_epoch, newest - 1)
    # the compacted-through sidecar bounds rewrite amplification: each run
    # consolidates only the epochs ABOVE the last run's horizon, so a
    # corpus compacted weekly rewrites one week of data, not its whole
    # history, and back-to-back runs are no-ops. Stale-after-crash is
    # safe: re-merging already-consolidated epochs re-derives the same
    # rows (tombstones are empty), it just pays the rewrite once more.
    through_path = os.path.join(out_dir, ".compact_through.json")
    fs, _, pcls = _hadoop_fs(spark, out_dir)
    through = -1
    if fs.exists(pcls(through_path)):
        through = int(
            _fs_read_json(spark, through_path)["compacted_through"]
        )
    cands = sorted(e for e in epochs if through < e <= horizon)
    if len(cands) < 2:
        return {"compacted": 0, "healed": healed}
    total_bytes = sum(
        fs.getContentSummary(pcls(epochs[e])).getLength() for e in cands
    )
    n_files = max(1, -(-int(total_bytes) // int(target_bytes)))
    union = reduce(
        lambda a, b: a.unionByName(b),
        [read_parquet(spark, epochs[e]) for e in cands],
    )
    into = cands[-1]
    tmp_dir = os.path.join(out_dir, ".compact_tmp")
    old_dir = os.path.join(out_dir, ".compact_old")
    union.coalesce(n_files).write.mode("overwrite").parquet(
        os.path.join(tmp_dir, f"epoch={into}")
    )
    # one Spark job writes the zero-row tombstone; the remaining epochs
    # get byte-identical filesystem copies of it (the content is pure
    # schema), so N tombstones cost one job + N-1 metadata copies
    empty = spark.createDataFrame([], schema=union.schema)
    tomb0 = os.path.join(tmp_dir, f"epoch={cands[0]}")
    empty.write.mode("overwrite").parquet(tomb0)
    futil = spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for e in cands[1:-1]:
        dst = pcls(os.path.join(tmp_dir, f"epoch={e}"))
        if fs.exists(dst):
            fs.delete(dst, True)
        futil.copy(fs, pcls(tomb0), fs, dst, False, hconf)
    # the commit point: manifest lands only after every prepared
    # partition is committed — recovery rolls forward from here
    _fs_write_json(
        spark, os.path.join(tmp_dir, "_MANIFEST.json"),
        {"epochs": cands, "into": into},
    )
    for e in cands:
        _swap_in_epoch(fs, pcls, out_dir, tmp_dir, old_dir, e)
    fs.delete(pcls(tmp_dir), True)
    if fs.exists(pcls(old_dir)):
        fs.delete(pcls(old_dir), True)
    _fs_write_json(spark, through_path, {"compacted_through": into})
    return {
        "compacted": len(cands),
        "into": into,
        "files": n_files,
        "bytes": int(total_bytes),
        "healed": healed,
    }
