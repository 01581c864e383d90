"""Structured-Streaming surface: screened corpus ingest (exact, MinHash
and sign-LSH near-dup screens), a streaming HLL distinct sketch, and
event-time session windows.

The reference's closest analogue is incremental insert + every-1000-ids
index checkpoint (``/root/reference/db/db.go:91-97``) and
catch-up-from-last-id recovery (``db/db.go:191-207``). Here both collapse
onto Spark's own mechanics: ``foreachBatch`` gives exactly-once batch
appends, and the streaming checkpoint directory *is* the recovery cursor —
no bespoke meta rows.

Scale notes: a near-dup ingest screens each micro-batch against an at-rest
index and advances that index with the batch's survivors; stateful exact
dedup is bounded by its TTL, and ``session_window`` handles gap-based
sessionization without custom state code.
"""

from __future__ import annotations

import os
import shutil
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kaer_spark.operators import dedup
from kaer_spark.operators.util import local_frame
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
    fs, marker, _ = _hadoop_fs(spark, os.path.join(path, "_SUCCESS"))
    return fs.exists(marker)


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


def _start(
    stream_df: DataFrame, sink, checkpoint_dir: str, trigger, mode="append"
) -> StreamingQuery:
    """Start ``sink`` as the ``foreachBatch`` body of ``stream_df``: the
    streaming checkpoint at ``checkpoint_dir`` is the recovery cursor,
    ``trigger`` (keywords of ``DataStreamWriter.trigger``) the cadence."""
    writer = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


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

    return _start(stream_df, sink, checkpoint_dir, trigger, "update")


def _screen_and_append(
    batch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    *,
    meta: dict,
    sink: str,
    id_col: str,
    order_col: str,
    self_dedup: bool,
    assign_ids: bool,
    sign,
    screen,
    self_pairs,
    refresh,
) -> None:
    """One near-dup ingest micro-batch, whatever the index family: screen
    the batch against the at-rest index, self-dedup the survivors, append
    them to ``out_dir/epoch=<id>`` and advance the index. The family
    enters only through its sidecar ``meta`` (``max_id`` is the
    watermark), ``sink`` (the name the refusals carry) and four
    callables: ``sign(batch)`` → a signature frame shared by the other
    three, or None; ``screen(batch, sig)`` → ``(left_id, right_id, …)``
    hits against the index; ``self_pairs(survivors, sig)`` → in-batch
    ``(id_a, id_b, …)`` pairs; ``refresh(frame, advance_to, sig)`` → the
    index catch-up.

    Crash/replay safety, by construction rather than epoch bookkeeping:

    * the screen's reference side is restricted to ``right_id <
      min(batch ids)`` — under the engine's monotone-id ingest contract
      (the reference's process-local id counter, ``db/db.go:75``) that
      is exactly "everything ingested before this batch", and it stays
      exactly that on a replay whose index refresh already landed, so
      survivors recompute identically;
    * the corpus write PRECEDES the index refresh, so a COMMITTED
      partition (``_SUCCESS`` marker, through the Hadoop FileSystem API)
      is what distinguishes a checkpoint replay from duplicate delivery.
      A replayed epoch (ids at-or-below the flipped watermark, committed
      partition present) is NOT rewritten: wm >= hi proves the refresh
      flipped, which proves the corpus write completed before it, and an
      overwrite would reopen a crash window — it deletes the partition
      first, and a crash before the rewrite finishes leaves the watermark
      covering a batch with no partition on disk, so every later replay
      would read as duplicate delivery and wedge the stream;
    * the index refresh is the watermark catch-up with ``advance_to=hi``:
      dropped docs are DECIDED even though never stored, so without the
      floor a replayed batch whose max id was dropped would straddle the
      watermark. A replayed batch is at-or-below the flipped watermark
      and no-ops; a crash between the refresh's appends heals via the
      per-append anti-joins.

    Out-of-order ids violate the monotone contract and are REFUSED
    loudly (a silent skip would fail open: the doc would land in the
    corpus unscreened-against forever). The discriminator is structural:
    a batch straddling the watermark mixes replayed and new rows —
    always refused; a batch entirely at-or-below it is either a
    checkpoint replay (committed partition) or duplicate source delivery
    under a fresh epoch (no committed partition — refused).

    ``assign_ids=True`` is the surrogate-id recipe for sources without
    monotone ids (hash-keyed corpora): ``id_col`` is ASSIGNED here as
    ``watermark + row_number`` over ``order_col``, so the monotone
    contract holds by construction; epoch replay is then discriminated
    by the committed partition alone (a committed partition heals the
    index from itself and is never recomputed), and duplicate source
    delivery fails safe through the content screen instead of the id
    check. To make that screen airtight the index in surrogate mode
    advances with the FULL batch — survivors AND dropped docs — because
    a doc dropped as a non-adjacent member of a transitive self-dedup
    cluster near-dups nothing among the survivors: were only survivors
    indexed, its re-delivery would re-ingest it under a fresh id.
    Indexing every screened signature means any re-delivered doc
    collides with its own prior signature (identical content ⟹
    identical bands ⟹ similarity 1). In surrogate mode the index is
    therefore a SEEN-CONTENT screen, not a corpus mirror — by contract,
    since this mode exists precisely for content-keyed sources. One
    narrow residual window: a crash between the corpus write and the
    index refresh heals the index from the committed partition, which
    holds only survivors, so THAT epoch's dropped-doc signatures are
    lost and its transitively-dropped members degrade to
    direct-duplicate screening on later re-delivery."""
    spark = batch_df.sparkSession
    wm = meta.get("max_id")
    epoch_path = os.path.join(out_dir, f"epoch={int(epoch_id)}")
    committed = _fs_committed(spark, epoch_path)
    if assign_ids:
        if committed:
            part = read_parquet(spark, epoch_path)
            mx = part.agg(F.max(F.col(id_col))).collect()[0][0]
            if mx is not None:
                refresh(part, mx, None)
            return
        batch_df = _assign_surrogate_ids(batch_df, id_col, wm, order_col)
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
                f"{sink}: batch ids [{lo}, {hi}] straddle the index "
                f"watermark {wm} — the monotone-id ingest contract is "
                "violated (or two writers share one index)"
            )
        if not committed:
            raise ValueError(
                f"{sink}: batch ids [{lo}, {hi}] are all at-or-below the "
                f"index watermark {wm} but epoch {int(epoch_id)} has no "
                f"committed partition at {epoch_path!r} — duplicate "
                "delivery, not a checkpoint replay"
            )
        return  # genuine replay: the partition is final, rewrite nothing
    # signing, screen, anti-join and refresh share one source scan (and id sort)
    batch = batch_df.localCheckpoint(eager=False)
    sig = sign(batch)
    hits = screen(batch, sig).filter(F.col("right_id") < F.lit(lo))
    # the screen chain runs once, not once per survivors reader (pairs, write)
    survivors = batch.join(
        hits.select(F.col("left_id").alias(id_col)).distinct(),
        [id_col],
        "left_anti",
    ).localCheckpoint(eager=False)
    if self_dedup:
        # the write and the survivors-only refresh share one components loop
        survivors = dedup.dedup_representatives(
            survivors, dedup.dedup_clusters(self_pairs(survivors, sig)),
            id_col=id_col,
        ).localCheckpoint(eager=False)
    survivors.write.mode("overwrite").parquet(epoch_path)
    refresh(batch if assign_ids else survivors, hi, sig)


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
    are appended to the corpus at ``out_dir`` (read it as
    ``read_parquet(spark, out_dir)``; the epoch partition column is
    incidental), and the index is advanced with exactly those survivors
    (``dedup.refresh_minhash_index``) so the NEXT batch screens against
    everything ingested so far. The exact fingerprint twin
    (:func:`streaming_dedup_against`) catches only byte-identical
    re-crawls; this catches boilerplate re-wraps and near-copies at the
    Jaccard ``threshold``, with the exact verify inside the band join as
    in the batch operator.

    Per-batch semantics (deterministic, batch-replayable — pinned
    stream ≡ batch in tests): a doc survives iff (a) it has no near-dup
    among PREVIOUSLY ingested docs, and (b) under ``self_dedup``, it is
    the min-id representative of its within-batch near-dup cluster
    (``dedup.dedup_representatives`` closure). Ids must be monotone
    across batches; out-of-order, straddling and duplicate-delivery
    batches are refused loudly, and sources WITHOUT monotone ids
    (hash-keyed corpora) opt into ``assign_ids=True`` (ids assigned as
    ``watermark + row_number`` over ``order_col``, default
    ``text_col``). See :func:`_screen_and_append` for the crash/replay
    analysis and the surrogate-id contract.

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
    return _start(
        stream_df,
        partial(
            neardup_ingest_batch, index_path=index_path, out_dir=out_dir,
            id_col=id_col, text_col=text_col, threshold=threshold,
            self_dedup=self_dedup, assign_ids=assign_ids,
            order_col=order_col,
        ),
        checkpoint_dir, trigger,
    )


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
    ``foreachBatch`` can compose it with other sinks. The MinHash family
    row of :func:`_screen_and_append`, which holds the steps and the
    crash-window analysis: ONE signature pass per batch, shared by the
    screen's band keys and exact verify, the in-batch self-dedup and the
    index refresh (the naive composition signs the same documents three
    times, and the signature pass is the dominant per-batch CPU). All
    three consumers hash under the sidecar's params by construction, so
    the shared pass cannot drift. ``assign_ids=True`` orders surrogate
    ids by ``order_col`` (default ``text_col``)."""
    meta = dedup.read_minhash_index_meta(index_path)
    shingling = {k: meta[k] for k in ("n", "num_hashes", "seed", "unit")}

    def sign(batch: DataFrame) -> DataFrame:
        # the screen, self-dedup and refresh share the one signature pass
        return dedup.minhash_signatures(
            batch, id_col, text_col, **shingling
        ).localCheckpoint(eager=False)

    def screen(batch: DataFrame, sig: DataFrame) -> DataFrame:
        return dedup.minhash_near_dups_against_index(
            batch.sparkSession, index_path, batch, left_id_col=id_col,
            text_col=text_col, threshold=threshold, presigned=sig,
        )

    def self_pairs(survivors: DataFrame, sig: DataFrame) -> DataFrame:
        ssig = sig.join(
            survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        return dedup.minhash_near_dups(
            survivors, id_col=id_col, text_col=text_col,
            bands=meta["bands"], threshold=threshold, presigned=ssig,
            **shingling,
        )

    def refresh(frame: DataFrame, advance_to, sig) -> dict:
        # the index's docs/ append reads ids and text under the SIDECAR's
        # names, which this sink's id_col/text_col need not match
        return dedup.refresh_minhash_index(
            frame.select(
                F.col(id_col).alias(meta["id_col"]),
                F.col(text_col).alias(meta["text_col"]),
            ),
            index_path, advance_to=advance_to, presigned=sig,
        )

    _screen_and_append(
        batch_df, epoch_id, out_dir, meta=meta, sink="stream_neardup_ingest",
        id_col=id_col, order_col=order_col or text_col,
        self_dedup=self_dedup, assign_ids=assign_ids, sign=sign,
        screen=screen, self_pairs=self_pairs, refresh=refresh,
    )


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
    text twin — see :func:`_screen_and_append` for the crash-window
    analysis; the family row is
    :func:`embedding_neardup_ingest_batch`."""
    return _start(
        stream_df,
        partial(
            embedding_neardup_ingest_batch, index_path=index_path,
            out_dir=out_dir, id_col=id_col, vec_col=vec_col,
            threshold=threshold, self_dedup=self_dedup,
            assign_ids=assign_ids, order_col=order_col,
        ),
        checkpoint_dir, trigger,
    )


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
    sign-LSH family row of :func:`_screen_and_append` (same ordering:
    corpus write BEFORE index refresh; same discriminators, including the
    no-rewrite replay path and the ``assign_ids`` surrogate-id mode for
    sources without monotone ids — surrogate ordering defaults to the
    vector column itself, which Spark orders lexicographically).
    Within-batch self-dedup runs ``embedding_near_dups_lsh`` through the
    SIDECAR's plane geometry and dimension, so the in-batch candidates
    and the index screen can never hash differently, and an all-dropped
    batch (no survivors) needs no dimension probe."""
    meta = dedup.read_signlsh_index_meta(index_path)

    def screen(batch: DataFrame, sig) -> DataFrame:
        return dedup.embedding_dups_against_index(
            batch.sparkSession, index_path, batch, left_id_col=id_col,
            vec_col=vec_col, threshold=threshold,
        )

    def self_pairs(survivors: DataFrame, sig) -> DataFrame:
        return dedup.embedding_near_dups_lsh(
            survivors, id_col=id_col, vec_col=vec_col, threshold=threshold,
            bands=meta["bands"], bits_per_band=meta["bits_per_band"],
            seed=meta["seed"], dim=meta["dim"],
        )

    def refresh(frame: DataFrame, advance_to, sig) -> dict:
        return dedup.refresh_signlsh_index(frame, index_path, advance_to=advance_to)

    _screen_and_append(
        batch_df, epoch_id, out_dir, meta=meta,
        sink="stream_embedding_neardup_ingest", id_col=id_col,
        order_col=order_col or vec_col, self_dedup=self_dedup,
        assign_ids=assign_ids, sign=lambda batch: None, screen=screen,
        self_pairs=self_pairs, refresh=refresh,
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
    empty = local_frame(spark, [], union.schema)
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
