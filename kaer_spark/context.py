"""KaerContext + Collection — the reference's user-facing API, Spark-first.

Reference surface being reproduced (citations into /root/reference):

* ``CreateCollection`` / ``GetCollection`` / ``DropCollection``
  (``db/kaer.go:28-76``) → collection = a parquet directory plus a JSON
  catalog sidecar ``collection.json`` (schema, embedding dim/model, max id)
  — replacing the reference's meta-collection checkpoint rows
  (``db/meta.go``), which with atomic parquet commits are unnecessary.
* ``Collection.Insert`` (``db/db.go:60-100``): validate, embed, stamp
  ``_m_doc`` / dense ``_m_id`` / ``_m_embedding``, append. The reference's
  id-recovery bug (min instead of max, ``db/db.go:145-174``) is fixed by
  construction: ids are always allocated from the stored ``max(_m_id)``.
* ``Collection.Query`` (``db/db.go:111-143``): metadata-pre-filtered kNN.
  The reference pulls the ENTIRE filter-match set to the client, builds a
  bitmap, then walks an in-RAM HNSW graph (approximate, ef=200). Here the
  same declared semantics — "the k nearest neighbors among matching rows" —
  compile to ``filter(pred).orderBy(l2sq, _m_id).limit(k)``: Catalyst pushes
  the predicate into the parquet scan and plans the top-k as
  ``TakeOrderedAndProject`` (per-partition heaps, no global sort, nothing
  resident in memory). Exact instead of approximate: a strict quality
  improvement with identical contract.

Scale notes (100 TB): data is appended in id-blocks (one block per insert
job, recorded in the catalog), so files are naturally clustered by ``_m_id``
— parquet min/max stats prune id-range scans (index catch-up reads,
``db/db.go:191-207``, become metadata-only). Dense id assignment uses
partition-count offsets (two narrow jobs), never a single-partition window.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaer_spark.embeddings import (
    EmbeddingProvider,
    HashingEmbedder,
    embed_column,
    embed_texts_local,
)
from kaer_spark.filters import compile_filter
from kaer_spark.filters_json import compile_filter_json
from kaer_spark.operators import (
    contamination,
    dedup,
    hybrid,
    index_store,
    knn,
    ranking,
    similarity,
    text_index,
)
from kaer_spark.operators.util import local_frame
from kaer_spark.sources.files import (
    data_files,
    read_catalogued,
    read_parquet,
    read_sidecar,
    write_sidecar,
)

DOC_COL = "_m_doc"  # reference: db/db.go:18
ID_COL = "_m_id"  # reference: db/db.go:19
EMB_COL = "_m_embedding"  # reference: db/db.go:20
META_COL = "_m_meta"  # schemaless mode: the whole metadata doc as JSON


#: commit-point sidecar for the data-directory swap (see
#: :func:`heal_data_swap`) — filename, relative to the collection dir
SWAP_MANIFEST = ".data_swap.json"


def heal_data_swap(coll_path: str) -> bool:
    """Heal an interrupted data-directory swap for the collection at
    ``coll_path`` — the batch twin of ``streaming.ingest
    .recover_epoch_compaction`` (r16 verdict #1: the streaming compactor
    got the manifest + recover discipline; the Collection swap that
    ``delete``/``compact``/``deduplicate*`` ride did not, so a crash
    between the two renames opened a collection with no data directory).

    The manifest (``.data_swap.json``) is the commit point, written only
    AFTER the rewrite directory is verified complete:

    * manifest present → roll FORWARD: finish the swap from whatever
      rename the crash interrupted (``data.rewrite`` is complete by
      contract), drop ``data.old``, drop the manifest;
    * manifest absent  → roll BACKWARD: an unverified ``data.rewrite``
      is garbage (the writer died mid-write), a stranded ``data.old``
      with no ``data`` is a legacy pre-manifest crash (restore it), a
      stranded ``data.old`` beside a live ``data`` is an interrupted
      cleanup (drop it).

    Idempotent; called from every collection open. Returns True if
    anything was healed."""
    data = os.path.join(coll_path, "data")
    tmp = data + ".rewrite"
    old = data + ".old"
    manifest = os.path.join(coll_path, SWAP_MANIFEST)
    healed = False
    if os.path.exists(manifest + ".tmp"):
        os.remove(manifest + ".tmp")  # died before the manifest's os.replace
        healed = True
    if os.path.exists(manifest):
        if os.path.isdir(tmp):
            # crash before/between the renames: tmp is verified-complete,
            # so finish the committed swap
            if os.path.isdir(data):
                if os.path.isdir(old):
                    shutil.rmtree(old)
                os.rename(data, old)
            os.rename(tmp, data)
        elif not os.path.isdir(data) and os.path.isdir(old):
            # defensive: tmp vanished without landing as data (should be
            # unreachable) — the intact pre-swap directory wins over an
            # empty collection
            os.rename(old, data)
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.remove(manifest)
        healed = True
    else:
        if os.path.isdir(old) and not os.path.isdir(data):
            os.rename(old, data)  # legacy (pre-manifest) crash window
            healed = True
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)  # unverified partial write
            healed = True
        if os.path.isdir(old):
            shutil.rmtree(old)  # interrupted cleanup leg
            healed = True
    return healed


class CollectionNotFound(KeyError):
    """Reference: ErrCollectionNotFound, db/db.go:25 (raised db/kaer.go:53)."""


class FieldTypeConflict(TypeError):
    """A metadata field arrives with a different type than previously
    stored. The reference's document store would accept it (BSON is
    untyped); a columnar store cannot read mixed-type parquet columns, so
    the conflict is rejected at write time with the offending fields."""


class FieldLengthMismatch(ValueError):
    """Reference: ErrFieldLengthMismatch, db/db.go:61-63."""


def dense_ids(df: DataFrame, start: int = 0, order_col: str | None = None) -> DataFrame:
    """Assign a dense, contiguous ``_m_id`` starting at ``start``.

    See :func:`dense_ids_with_count`; this is the same pass, discarding the
    batch total.
    """
    return dense_ids_with_count(df, start=start, order_col=order_col)[0]


def dense_ids_with_count(
    df: DataFrame, start: int = 0, order_col: str | None = None
) -> tuple[DataFrame, int]:
    """Assign a dense, contiguous ``_m_id`` starting at ``start``; also
    return the batch row count (summed from the per-partition counts the
    pass collects anyway, so callers that need the total — e.g. the insert
    path advancing ``next_id`` — do not pay a second full scan).

    Scalable shape: each row's position inside its partition plus
    broadcast cumulative partition offsets, no shuffle. The reference
    requires dense ids for its HNSW node addressing (``db/db.go:75-76``,
    ``db/hnsw.go:17-20``); we keep the invariant because it makes id-range
    pruning and stable tie-breaks free.

    ``order_col``: optional column giving a deterministic global order
    (ids then follow that order; tied values keep their order within the
    range partition). Without it, order is partition-position — dense and
    stable for a materialized input but not semantically ordered.
    """
    if order_col is not None:
        # Deterministic global order requested: range-partition by the order
        # column (a shuffle), then per-partition numbering + offsets.
        df = df.repartitionByRange(F.col(order_col)).sortWithinPartitions(order_col)
    # Freeze partition membership before the two dependent jobs: the offset
    # collect below and the consumer's numbering action must see IDENTICAL
    # partitions, but an unpersisted repartitionByRange re-samples its range
    # boundaries per execution, so rows can migrate between the jobs —
    # duplicate or gapped ids that silently corrupt a collection.
    # localCheckpoint materializes the partitions once (lineage truncated,
    # blocks reclaimed by the ContextCleaner when the frame is GC'd) and
    # fails loudly on block loss instead of renumbering differently.
    tagged = df.withColumn("_pid", F.spark_partition_id()).localCheckpoint()
    counts = {
        r["_pid"]: r["cnt"]
        for r in tagged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offmap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    # monotonically_increasing_id() is (partition index << 33) + the row's
    # position in its partition, so its low 33 bits are the row's position
    # in the checkpoint's partition _pid (what row_number() over
    # partitionBy(_pid) in checkpoint order gives, without that window's
    # shuffle). That holds only while this projection reads the
    # checkpoint's partitions as they are: nothing may coalesce,
    # repartition or filter between the checkpoint and it.
    pos = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    out = tagged.withColumn(
        ID_COL, (pos + offmap[F.col("_pid")]).cast("long")
    ).drop("_pid")
    return out, acc - start


def _live(fn: Callable) -> Callable:
    """``fn`` as its operator module binds it at call time, so a wrapper
    installed on the module after import (``perfbench/tracing.py``'s
    per-layer spans) sees every call made through the family table."""
    return getattr(sys.modules[fn.__module__], fn.__name__)


def _sidecar_ints(*keys: str) -> Callable[[dict, int], dict]:
    """Rewrite geometry that carries ``keys`` from the sidecar as ints."""
    return lambda sidecar, kept_n: {k: int(sidecar[k]) for k in keys}


@dataclass(frozen=True)
class IndexFamily:
    """One standing-index family a collection can own — kaer has one, its
    HNSW file (``db/hnsw.go``: new/load/save/add/search). Every lifecycle
    point of :class:`Collection` (build, insert catch-up, health report,
    rewrite rebuild, snapshot copy, indexed ``deduplicate_against``) is a
    loop or lookup over :data:`INDEX_FAMILIES`, so a family added there is
    carried by all of them."""

    key: str  # index_health() report key
    flag: str  # catalog meta flag
    dirname: str  # directory under the collection root
    column: Mapping[str, str]  # the indexed column, as the operators name it
    build: Callable[..., dict]
    refresh: Callable[..., dict]  # (corpus, dir, *, batch=None)
    stats: Callable[..., DataFrame]
    read_meta: Callable[[str], dict]
    # (sidecar, rows kept by a rewrite) -> the build kwargs it rebuilds with
    geometry: Callable[[dict, int], dict]
    # the deduplicate_against method served from this index, its
    # from-scratch twin, and its threshold keyword with default (None:
    # the method takes no threshold)
    method: str | None = None
    against: Callable[..., DataFrame] | None = None
    between: Callable[..., DataFrame] | None = None
    threshold: tuple[str, float] | None = None

    def dir_in(self, root: str) -> str:
        return os.path.join(root, self.dirname)


_TEXT = {"text_col": DOC_COL}
_VEC = {"vec_col": EMB_COL}

#: every standing-index family, in catch-up and rebuild order
INDEX_FAMILIES: tuple[IndexFamily, ...] = (
    IndexFamily(
        "ivf", "has_index", "index", _VEC,
        index_store.build_ivf_index, index_store.refresh_ivf_index,
        index_store.ivf_index_stats, index_store.read_index_meta,
        # a rewrite can leave fewer rows than cells
        lambda s, kept_n: {
            "cells": min(int(s.get("cells", 16)), kept_n),
            "fit": s.get("fit", "kmeans"),
            "seed": int(s.get("seed", 42)),
        },
    ),
    IndexFamily(
        "text", "has_text_index", "text_index", _TEXT,
        text_index.build_text_index, text_index.refresh_text_index,
        text_index.text_index_stats, text_index.read_text_index_meta,
        lambda s, kept_n: {"n_buckets": int(s.get("n_buckets", 64))},
    ),
    IndexFamily(
        "pq", "has_pq_index", "pq_index", _VEC,
        index_store.build_pq_index, index_store.refresh_pq_index,
        index_store.pq_index_stats, index_store.read_pq_meta,
        lambda s, kept_n: {
            "m": int(s["m"]),
            "k": int(s["k"]),
            "cells": s.get("cells"),
            "fit": s.get("fit", "deterministic"),
            "seed": int(s.get("seed", 42)),
        },
    ),
    IndexFamily(
        "minhash", "has_minhash_index", "minhash_index", _TEXT,
        dedup.build_minhash_index, dedup.refresh_minhash_index,
        dedup.minhash_index_stats, dedup.read_minhash_index_meta,
        _sidecar_ints("n", "num_hashes", "bands", "seed"),
        method="minhash",
        against=dedup.minhash_near_dups_against_index,
        between=dedup.minhash_near_dups_between,
        threshold=("threshold", 0.5),
    ),
    IndexFamily(
        "signlsh", "has_signlsh_index", "signlsh_index", _VEC,
        dedup.build_signlsh_index, dedup.refresh_signlsh_index,
        dedup.signlsh_index_stats, dedup.read_signlsh_index_meta,
        _sidecar_ints("bands", "bits_per_band", "seed"),
        method="embedding",
        against=dedup.embedding_dups_against_index,
        between=dedup.embedding_near_dups_between,
        threshold=("threshold", 0.95),
    ),
    IndexFamily(
        "shingle", "has_shingle_index", "shingle_index", _TEXT,
        dedup.build_shingle_index, dedup.refresh_shingle_index,
        dedup.shingle_index_stats, dedup.read_shingle_index_meta,
        lambda s, kept_n: {
            "n": int(s["n"]),
            "max_doc_freq": s.get("max_doc_freq"),
            "unit": s.get("unit", "char"),
        },
        method="jaccard",
        against=dedup.ngram_jaccard_against_index,
        between=dedup.ngram_jaccard_between,
        threshold=("threshold", 0.5),
    ),
    IndexFamily(
        "fuzzy", "has_fuzzy_index", "fuzzy_index", _TEXT,
        dedup.build_fuzzy_index, dedup.refresh_fuzzy_index,
        dedup.fuzzy_index_stats, dedup.read_fuzzy_index_meta,
        _sidecar_ints("max_edits", "key_len"),
        method="fuzzy",
        against=dedup.fuzzy_dups_against_index,
        between=dedup.fuzzy_near_dups_between,
    ),
    IndexFamily(
        "winnow", "has_winnow_index", "winnow_index", _TEXT,
        dedup.build_winnow_index, dedup.refresh_winnow_index,
        dedup.winnow_index_stats, dedup.read_winnow_index_meta,
        _sidecar_ints("k", "window"),
        method="winnow",
        against=dedup.winnow_overlap_against_index,
        between=dedup.winnow_overlap_between,
        # a shared-fingerprint count, not a ratio
        threshold=("min_shared", 2),
    ),
)
_FAMILY = {f.key: f for f in INDEX_FAMILIES}

#: deduplicate_against methods no standing index serves
_REPORT_METHODS = ("ngram", "bloom")


class Collection:
    """One kaer collection = one parquet table + catalog sidecar."""

    def __init__(self, ctx: "KaerContext", name: str, meta: dict[str, Any]):
        self.ctx = ctx
        self.name = name
        self.meta = meta
        # every open heals an interrupted data-directory swap first —
        # reference O9's recovery contract (db/db.go:209-226) extended to
        # the rewrite ops the reference doesn't have
        heal_data_swap(self.path)

    def _swap_data_dir(self, tmp: str) -> None:
        """Commit a VERIFIED rewrite directory over ``data/``: manifest
        first (the commit point :func:`heal_data_swap` rolls forward
        from), then the two renames, then cleanup. After the manifest is
        durable, a crash at ANY point leaves the collection reopenable
        with the new data; before it, with the old — there is no window
        where neither a complete directory nor the recipe to restore one
        exists (the claim ``compact``'s docstring makes)."""
        manifest = os.path.join(self.path, SWAP_MANIFEST)
        write_sidecar(manifest, {"tmp": os.path.basename(tmp)})
        old = self.data_path + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(self.data_path, old)
        os.rename(tmp, self.data_path)
        shutil.rmtree(old)
        os.remove(manifest)

    # -- paths -----------------------------------------------------------
    @property
    def path(self) -> str:
        return os.path.join(self.ctx.root, self.name)

    @property
    def data_path(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, "collection.json")

    @property
    def index_path(self) -> str:
        return _FAMILY["ivf"].dir_in(self.path)

    @property
    def text_index_path(self) -> str:
        return _FAMILY["text"].dir_in(self.path)

    @property
    def pq_index_path(self) -> str:
        return _FAMILY["pq"].dir_in(self.path)

    def _save_meta(self) -> None:
        write_sidecar(self.meta_path, self.meta)

    def _pred(self, filter: Mapping[str, Any] | None) -> Column:
        """``filter`` compiled over this collection's metadata: the JSON
        metadata column of a schemaless collection, the typed columns
        otherwise."""
        if self.meta.get("schemaless"):
            return compile_filter_json(filter, META_COL)
        return compile_filter(filter)

    # -- data access -----------------------------------------------------
    def df(self) -> DataFrame:
        """The collection's rows, read under the catalog schema
        (``meta["schema"]``, the union of every batch ``insert_df`` wrote
        and every rewrite kept), in the catalog's column order. Nothing
        is inferred, so constructing the read fires no job, and a field a
        later batch added reads as NULL on older rows. A catalog with no
        schema (written before ``insert_df`` kept one) infers with
        ``mergeSchema`` instead."""
        schema = (
            T.StructType.fromJson(json.loads(self.meta["schema"]))
            if self.meta.get("schema")
            else None
        )
        if not self.meta.get("has_data"):
            if schema is None:
                raise CollectionNotFound(f"collection {self.name} is empty and untyped")
            return local_frame(self.ctx.spark, [], schema)
        if schema is None:
            # merge_schema: without it Spark picks one file's schema and
            # silently DROPS the other files' columns
            return read_parquet(self.ctx.spark, self.data_path, merge_schema=True)
        return read_catalogued(self.ctx.spark, [self.data_path], schema)

    # -- ingest (reference O4, db/db.go:60-100) --------------------------
    def insert(
        self,
        documents: Sequence[str],
        metadatas: Sequence[Mapping[str, Any]] | None = None,
    ) -> int:
        """Embed + id-stamp + append a batch of documents.

        Returns the first id assigned to this batch. Single-writer per
        collection (the reference's model too: a process-local counter,
        ``db/db.go:75``).
        """
        metadatas = metadatas if metadatas is not None else [{}] * len(documents)
        if len(documents) != len(metadatas):
            raise FieldLengthMismatch(
                f"documents ({len(documents)}) != metadatas ({len(metadatas)})"
            )
        if not documents:
            return int(self.meta.get("next_id", 0))  # no-op, ids unchanged
        if self.meta.get("schemaless"):
            # the reference's true data model: any row, any keys, any types
            # (db/db.go:44-47, metadatas []bson.M). One canonical-JSON
            # column instead of typed columns — no FieldTypeConflict, ragged
            # keys welcome; filters compile via the variant path
            # (kaer_spark.filters_json).
            rows = [
                {DOC_COL: d, META_COL: json.dumps(m, sort_keys=True, separators=(",", ":"))}
                for d, m in zip(documents, metadatas)
            ]
            df = self.ctx.spark.createDataFrame(
                rows, f"{DOC_COL} string, {META_COL} string"
            )
        else:
            rows = [dict(m, **{DOC_COL: d}) for d, m in zip(documents, metadatas)]
            df = self.ctx.spark.createDataFrame(rows)  # schema inferred at first insert
        # driver-held rows: one partition, so the batch is embedded in one
        # Python-worker round and written as one file (insert_df's write
        # keeps its input's partitions)
        return self.insert_df(df.coalesce(1))

    def _check_types(self, incoming: T.StructType) -> None:
        """Reject fields whose type conflicts with the stored schema —
        mixed-type parquet columns are unreadable; new fields are fine
        (they merge as NULL for older rows)."""
        if not self.meta.get("schema"):
            return
        stored = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(self.meta["schema"])).fields
        }
        # compare on simpleString: nullability (containsNull / nullable)
        # differences merge fine in parquet and must not be rejected
        conflicts = [
            f"{f.name}: stored {stored[f.name].simpleString()}, "
            f"got {f.dataType.simpleString()}"
            for f in incoming.fields
            if f.name in stored
            and f.dataType.simpleString() != stored[f.name].simpleString()
        ]
        if conflicts:
            raise FieldTypeConflict("; ".join(conflicts))

    def insert_df(self, df: DataFrame, text_col: str = DOC_COL) -> int:
        """Id-stamp, embed (unless ``df`` carries ``_m_embedding``) and
        append ``df``, then catch up every owned index from the part files
        the append wrote; returns the batch's first id. The write keeps
        ``df``'s partitions: at most one part file per partition."""
        self._check_types(df.schema)
        next_id = int(self.meta.get("next_id", 0))
        # ids first, embedding second: the id pass (partition-count collect)
        # then never executes the expensive embedding stage, which runs
        # exactly once inside the write job. The same partition counts give
        # the batch total — no separate count() scan per ingest batch.
        df, batch_n = dense_ids_with_count(df, start=next_id)
        if batch_n == 0:
            return next_id
        if EMB_COL not in df.columns:
            provider = self.ctx.provider_for(self.meta)
            df = embed_column(df, text_col, provider, EMB_COL)
        else:
            # a caller-supplied vector of the wrong dimension (or a null)
            # would sort first in every query as a null distance; fail the
            # write job instead, which commits no file
            dim = int(self.meta["dim"])
            vec = F.col(EMB_COL)
            df = df.withColumn(
                EMB_COL,
                F.when(F.size(vec) == dim, vec).otherwise(
                    F.raise_error(
                        F.lit(f"{EMB_COL} must be a non-null {dim}-dim vector")
                    )
                ),
            )
        # single writer: the part files this append adds are the ones
        # missing from the listing taken before it; the catch-up reads only
        # those (operators.util.batch_tail)
        before = data_files(self.data_path)
        df.write.mode("append").parquet(self.data_path)
        added = tuple(
            os.path.join(self.data_path, f)
            for f in sorted(data_files(self.data_path) - before)
        )
        self.meta["next_id"] = next_id + batch_n
        self.meta["has_data"] = True
        # merge the batch's schema into the catalog schema in Python — a
        # re-read of every parquet footer per insert would make insert cost
        # grow with collection size
        stored = (
            T.StructType.fromJson(json.loads(self.meta["schema"])).fields
            if self.meta.get("schema")
            else []
        )
        seen = {f.name for f in stored}
        merged = list(stored) + [f for f in df.schema.fields if f.name not in seen]
        self.meta["schema"] = json.dumps(T.StructType(merged).jsonValue())
        self._save_meta()
        # the reference adds every inserted vector to its index inline
        # (db/db.go:87-89); here each owned family catches up from the id
        # range just written, read from the files that hold it. No refresh
        # has seen an id >= next_id, so a family whose watermark is
        # next_id - 1 appends that batch with no max() job and no replay
        # guard; any other family takes the full catch-up
        # (operators.util.open_refresh)
        for fam in INDEX_FAMILIES:
            if self.meta.get(fam.flag):
                self._refresh(fam, batch=(next_id, next_id + batch_n, added))
        return next_id

    # -- index artifact (reference O7/O8/O10/O14, db/db.go:102-109,176-207)
    def _build(self, fam: IndexFamily, **geometry) -> dict:
        meta = _live(fam.build)(
            self.df(), fam.dir_in(self.path), id_col=ID_COL, **fam.column,
            **geometry,
        )
        self.meta[fam.flag] = True
        self._save_meta()
        return meta

    def _refresh(self, fam: IndexFamily, batch=None) -> dict:
        return _live(fam.refresh)(
            self.df(), fam.dir_in(self.path), batch=batch
        )

    def build_index(
        self, cells: int = 16, seed: int = 42, fit: str = "kmeans"
    ) -> dict:
        """Materialize the IVF index table for this collection (replaces
        the reference's HNSW checkpoint file + meta row).

        ``fit="deterministic"`` builds the oracle-replayable variant
        (smallest-id sample centroids): every subsequent
        ``query(approximate=True)`` is then bit-exactly reproducible by a
        SQL engine reading the same parquet — the verifiable approximate
        mode. Default ``"kmeans"`` (MLlib) gives better cell balance.
        """
        return self._build(_FAMILY["ivf"], cells=cells, seed=seed, fit=fit)

    def refresh_index(self) -> dict:
        """Catch-up: index vectors inserted after the last build/refresh."""
        return self._refresh(_FAMILY["ivf"])

    def build_pq_index(
        self,
        m: int = 8,
        k: int = 16,
        cells: int | None = None,
        fit: str = "deterministic",
        seed: int = 42,
    ) -> dict:
        """Materialize the PRODUCT-QUANTIZED code table for this collection
        (``operators.index_store.build_pq_index``) — the compressed serving
        layout: :meth:`query_pq`'s shortlist stage reads ``m`` ints per
        vector instead of the raw embedding (32× less IO at m=8/dim-64
        float32), with exact re-ranking of the survivors. ``cells`` adds a
        coarse quantizer (IVFADC: the code table partitions by cell and a
        probed query scans ``nprobe``/``cells`` of the codes). Same
        sidecar/catch-up story as :meth:`build_index`."""
        return self._build(
            _FAMILY["pq"], m=m, k=k, cells=cells, fit=fit, seed=seed
        )

    def refresh_pq_index(self) -> dict:
        """Catch-up: encode vectors inserted after the last PQ build under
        the STORED codebooks and append their codes (reference O8 for the
        compressed index)."""
        return self._refresh(_FAMILY["pq"])

    def query_pq(
        self,
        document: str | None = None,
        k: int = 10,
        filter: Mapping[str, Any] | None = None,
        query_vector: Sequence[float] | None = None,
        shortlist: int = 50,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Two-stage compressed kNN from the at-rest code table (requires
        :meth:`build_pq_index`): ADC shortlist over stored codes, exact
        float64 re-rank of the ``shortlist`` survivors — reported ``_dist``
        carries no quantization error; recall is bounded by ``shortlist``
        (and the probed cells when ``nprobe`` is set on a celled index).
        ``filter`` is the same Mongo-dialect metadata pre-filter as
        :meth:`query` (the reference's filtered-kNN contract,
        ``db/db.go:111-143``): matching ids semi-join the code table
        BEFORE the shortlist cut — "k nearest among matches" — and a
        selective filter on a celled index escalates ``nprobe`` until
        ``k`` rows fill (``index_store.pq_index_topk``)."""
        if query_vector is None:
            if document is None:
                raise ValueError("need document or query_vector")
            provider = self.ctx.provider_for(self.meta)
            query_vector = embed_texts_local([document], provider)[0]
        if not self.meta.get("has_pq_index"):
            raise CollectionNotFound(
                f"collection {self.name} has no PQ index; call build_pq_index()"
            )
        pred = None if filter is None else self._pred(filter)
        hits = index_store.pq_index_topk(
            self.ctx.spark, self.pq_index_path, self.df(),
            list(query_vector), topk=k, shortlist=shortlist, nprobe=nprobe,
            pred=pred,
        ).withColumnRenamed("_score", "_dist")
        return (
            self.df()
            .join(F.broadcast(hits), ID_COL)
            .orderBy(F.col("_dist").asc(), F.col(ID_COL).asc())
        )

    def build_text_index(self, n_buckets: int = 64) -> dict:
        """Materialize the inverted text index (operators.text_index) for
        this collection — the lexical twin of :meth:`build_index`, same
        sidecar/recovery story. Once built, :meth:`query_hybrid` routes
        its BM25 pool through the index (partition-pruned postings scan
        instead of a per-query corpus scan) and inserts keep it current
        via the same catch-up discipline as the vector index."""
        return self._build(_FAMILY["text"], n_buckets=n_buckets)

    def refresh_text_index(self) -> dict:
        """Catch-up: index documents inserted after the last build/refresh
        (text twin of :meth:`refresh_index`)."""
        return self._refresh(_FAMILY["text"])

    def build_minhash_index(
        self,
        n: int = 8,
        num_hashes: int = 16,
        bands: int = 4,
        seed: int = 42,
    ) -> dict:
        """Materialize the at-rest MinHash reference index for THIS
        collection (operators.dedup.build_minhash_index over ``_m_doc``)
        — the standing artifact for the recurring-decontamination regime
        where this collection IS the fixed reference side (benchmark
        corpus, existing training set): once built,
        :meth:`deduplicate_against` on another collection with
        ``method="minhash"`` serves from it instead of re-signing this
        corpus per call, inserts keep it current (O8 catch-up, the
        engine-wide parity rule), and :meth:`index_health` reports it."""
        return self._build(
            _FAMILY["minhash"],
            n=n, num_hashes=num_hashes, bands=bands, seed=seed,
        )

    def refresh_minhash_index(self) -> dict:
        """Catch-up: sign/band documents inserted after the last
        build/refresh (dedup twin of :meth:`refresh_index`)."""
        return self._refresh(_FAMILY["minhash"])

    def build_signlsh_index(
        self, bands: int = 4, bits_per_band: int = 4, seed: int = 7
    ) -> dict:
        """Materialize the at-rest sign-LSH reference index for THIS
        collection (operators.dedup.build_signlsh_index over
        ``_m_embedding``) — the semantic twin of
        :meth:`build_minhash_index`: :meth:`deduplicate_against` with
        ``method="embedding"`` then serves from it, inserts keep it
        current, :meth:`index_health` reports it."""
        return self._build(
            _FAMILY["signlsh"],
            bands=bands, bits_per_band=bits_per_band, seed=seed,
        )

    def refresh_signlsh_index(self) -> dict:
        """Catch-up: band vectors inserted after the last build/refresh."""
        return self._refresh(_FAMILY["signlsh"])

    def build_shingle_index(
        self,
        n: int = 8,
        max_doc_freq: int | None = None,
        unit: str = "char",
    ) -> dict:
        """Materialize the at-rest shingle inverted index for THIS
        collection (operators.dedup.build_shingle_index over ``_m_doc``)
        — the deterministic-Jaccard member of the collection-owned
        decontamination artifacts: ``deduplicate_against`` with
        ``method="jaccard"`` serves from it, inserts keep it current
        (O8 parity), :meth:`index_health` reports it."""
        return self._build(
            _FAMILY["shingle"], n=n, max_doc_freq=max_doc_freq, unit=unit
        )

    def refresh_shingle_index(self) -> dict:
        """Catch-up: postings/sizes/doc-freq segments for documents
        inserted after the last build/refresh."""
        return self._refresh(_FAMILY["shingle"])

    def build_fuzzy_index(
        self, max_edits: int = 2, key_len: int = 32
    ) -> dict:
        """Materialize the at-rest fuzzy (PassJoin) segment index
        for THIS collection (operators.dedup.build_fuzzy_index over
        ``_m_doc``) — the edit-distance member of the collection-owned
        artifacts: ``deduplicate_against`` with ``method="fuzzy"``
        serves from it, inserts keep it current, :meth:`index_health`
        reports it."""
        return self._build(
            _FAMILY["fuzzy"], max_edits=max_edits, key_len=key_len
        )

    def refresh_fuzzy_index(self) -> dict:
        """Catch-up: segment rows for documents inserted after the last
        build/refresh."""
        return self._refresh(_FAMILY["fuzzy"])

    def build_winnow_index(self, k: int = 16, window: int = 8) -> dict:
        """Materialize the at-rest winnow (MOSS fingerprint) index
        for THIS collection (operators.dedup.build_winnow_index over
        ``_m_doc``) — the passage-overlap member of the collection-owned
        artifacts: ``deduplicate_against`` with ``method="winnow"``
        serves from it, inserts keep it current, :meth:`index_health`
        reports it."""
        return self._build(_FAMILY["winnow"], k=k, window=window)

    def refresh_winnow_index(self) -> dict:
        """Catch-up: fingerprint selections for documents inserted after
        the last build/refresh."""
        return self._refresh(_FAMILY["winnow"])

    def index_health(self) -> dict[str, DataFrame]:
        """Health reports for every index attached to this collection —
        observability the reference lacks entirely (kaer's HNSW never
        reports skew, drift, or staleness; there is no stats surface in
        ``db/*.go`` at all). One lazy DataFrame per BUILT index family,
        from the family's report operator in :data:`INDEX_FAMILIES`:

        * ``"ivf"``  — per-cell size histogram, skew vs the balanced
          design point, residual quantiles vs the sidecar centroids
          (``operators.index_store.ivf_index_stats``);
        * ``"pq"``   — reconstruction error of the stored codes against
          the sidecar codebooks (``pq_index_stats``);
        * ``"text"`` — document-frequency/doclen distributions and
          term-hash bucket skew (``operators.text_index
          .text_index_stats``);
        * ``"minhash"`` / ``"signlsh"`` — band-bucket histograms,
          skew vs uniform, per-doc payload / stored-norm spread for the
          collection-owned decontamination artifacts
          (``operators.dedup.minhash_index_stats`` /
          ``signlsh_index_stats``), when built via
          :meth:`build_minhash_index` / :meth:`build_signlsh_index`;
        * ``"shingle"`` / ``"fuzzy"`` / ``"winnow"`` — posting/
          segment/fingerprint histograms for the collection-owned
          deterministic-Jaccard, PassJoin, and MOSS artifacts
          (``shingle_index_stats`` / ``fuzzy_index_stats`` /
          ``winnow_index_stats``), when built via
          :meth:`build_shingle_index` / :meth:`build_fuzzy_index` /
          :meth:`build_winnow_index`.

        Every report carries ``watermark_lag`` against THIS collection's
        current rows, so ``index_health()`` after :meth:`insert` shows
        exactly how far each index trails before the matching
        ``refresh_*`` call; rebuild-trigger policy lives on each report
        operator's docstring."""
        return {
            fam.key: _live(fam.stats)(
                self.ctx.spark, fam.dir_in(self.path), corpus=self.df()
            )
            for fam in INDEX_FAMILIES
            if self.meta.get(fam.flag)
        }

    def query_phrase(
        self, phrase: str, k: int | None = None
    ) -> DataFrame:
        """Exact-phrase search over the collection's POSITIONAL text
        index → ``(_m_id, n_occurrences)`` for documents containing the
        consecutive token sequence (overlapping occurrences each count),
        optionally top-``k`` by (count desc, id asc). Requires
        :meth:`build_text_index`; inserts keep the index current, so a
        phrase lands in results as soon as its document commits. The
        retrieval mode embeddings can't express — exact identifiers,
        code fragments, quoted spans — served from the same index that
        accelerates :meth:`query_hybrid`, at O(query-term postings)."""
        if not self.meta.get("has_text_index"):
            raise ValueError(
                "phrase search reads the positional text index — call "
                "build_text_index() first"
            )
        out = text_index.search_phrase(
            self.ctx.spark, self.text_index_path, phrase, k=k
        )
        return out.select(F.col("id").alias(ID_COL), "n_occurrences")

    def query_near(
        self, phrase: str, slop: int = 2, k: int | None = None
    ) -> DataFrame:
        """Ordered proximity search over the positional text index →
        ``(_m_id, n_matches)``: documents containing the query tokens IN
        ORDER within ``slop`` interleaved tokens (``slop=0`` ≡
        :meth:`query_phrase`). Same index, same currency guarantees."""
        if not self.meta.get("has_text_index"):
            raise ValueError(
                "proximity search reads the positional text index — call "
                "build_text_index() first"
            )
        out = text_index.search_near(
            self.ctx.spark, self.text_index_path, phrase, slop=slop, k=k
        )
        return out.select(F.col("id").alias(ID_COL), "n_matches")

    # -- query (reference O5, db/db.go:111-143) --------------------------
    def query(
        self,
        document: str | None = None,
        k: int = 10,
        filter: Mapping[str, Any] | None = None,
        query_vector: Sequence[float] | None = None,
        approximate: bool = False,
        nprobe: int = 4,
    ) -> DataFrame:
        """Metadata-pre-filtered kNN.

        Contract (SURVEY.md §3.3): the k nearest neighbors by squared-L2
        among rows matching the filter, ascending distance, ties broken by
        ``_m_id``. Accepts either a query ``document`` (embedded via the
        collection's provider, mirroring ``db/db.go:131-134``) or a raw
        ``query_vector``.

        ``approximate=True`` searches the materialized IVF index (requires
        ``build_index()``): only the ``nprobe`` nearest cell partitions are
        scanned — the scale path, trading recall for a pruned scan, like
        the reference's HNSW ef/k trade (``db/db.go:137``). Default stays
        exact (the stronger contract). Filtered approximate queries
        escalate: if the filter matches fewer than ``k`` rows in the
        probed cells, ``nprobe`` doubles until ``k`` rows match or every
        cell is probed, so a selective filter can never silently
        under-fill (the reference's "k nearest among matches",
        ``db/db.go:111-143``).

        Side effect: a filtered approximate query runs its probe at
        construction — one collect of at most ``k`` rows per escalation
        round — and returns the filling round as a local frame
        (``index_store.ivf_index_topk``), so its action fires no job, as
        the reference's query returns its documents from the one search.
        Exact and unfiltered approximate queries stay lazy and fire no job
        at construction.
        """
        if query_vector is None:
            if document is None:
                raise ValueError("need document or query_vector")
            provider = self.ctx.provider_for(self.meta)
            query_vector = embed_texts_local([document], provider)[0]
        pred = self._pred(filter)
        if k <= 0:
            return self.df().filter(pred).limit(0)
        if approximate:
            if not self.meta.get("has_index"):
                raise CollectionNotFound(
                    f"collection {self.name} has no index; call build_index()"
                )
            return index_store.ivf_index_topk(
                self.ctx.spark, self.index_path, list(query_vector), k,
                nprobe=nprobe, pred=pred,
            ).withColumnRenamed("_score", "_dist").drop("_cell")
        return knn.exact_knn(
            self.df(), list(query_vector), k, pred=pred, keep_dist=True
        )

    def query_hybrid(
        self,
        document: str,
        k: int = 10,
        filter: Mapping[str, Any] | None = None,
        pool: int = 20,
        rrf_c: int = 60,
    ) -> DataFrame:
        """Hybrid retrieval: reciprocal-rank fusion of the vector kNN
        ranking (the query text embedded via the collection's provider)
        and the BM25 term ranking (its whitespace tokens as terms) →
        top-``k`` ``(_m_id, rrf, rank_0, rank_1)``, descending fused
        score, ties to min id. ``rank_0`` is the vector side, ``rank_1``
        the term side; either can be NULL when a doc appears in only one
        ``pool``-sized candidate list.

        This is the retrieval shape modern RAG stacks default to — the
        lexical side catches exact identifiers/rare terms embeddings
        smear, the vector side catches paraphrases — and the reference
        (vector-only) cannot express. Both candidate pools honor the
        same metadata ``filter``; fusion joins two ``pool``-row sets, so
        the hybrid overhead over ``query()`` is one extra scan-shaped
        BM25 pass.

        When :meth:`build_text_index` has run and no ``filter`` is given,
        the lexical pool reads the MATERIALIZED index instead of scanning
        the corpus — O(query-term postings) per query via the bucket
        partition filter, with bit-identical BM25 doubles (insert catch-up
        keeps the index current). The index is a TRANSPARENT accelerator:
        when fewer than ``pool`` documents hold any query term, the pool
        is padded with zero-score docs in ascending-id order from the
        index's doclens table — the same padding the scan path's
        order-by/limit produces — so the fused result is identical with
        or without an index. Filtered hybrids keep the scan path: BM25
        corpus statistics are defined over the FILTERED sub-corpus there,
        which a whole-corpus index cannot reproduce.
        """
        terms = [t for t in document.lower().split() if t]
        if not terms:
            raise ValueError("document must contain at least one token")
        pred = self._pred(filter)
        base = self.df().filter(pred)
        vec_top = self.query(document, k=pool, filter=filter).select(
            F.col(ID_COL).alias("id"), "_dist"
        )
        vec = hybrid.with_rank(vec_top, [F.col("_dist").asc(), F.col("id")])
        if filter is None and self.meta.get("has_text_index"):
            text_top = text_index.search_text_index(
                self.ctx.spark, self.text_index_path, terms, k=pool
            )
            # transparent-accelerator contract: the scan path pads the
            # lexical pool with zero-score docs (ascending id) whenever
            # fewer than `pool` docs hold any query term, and those
            # padding rows DO earn RRF rank credit — replay exactly that
            # from the index's doclens table so building an index can
            # never change the fused result. The collect is bounded by
            # `pool` (the fusion operates on pool-sized sets by design);
            # the padding branch scans only the id column of doclens and
            # plans as TakeOrderedAndProject.
            matched = text_top.collect()
            if len(matched) < pool:
                have = [r["id"] for r in matched]
                ids = read_parquet(
                    self.ctx.spark,
                    os.path.join(self.text_index_path, text_index.DOCLENS_DIR),
                ).select("id")
                if have:
                    ids = ids.filter(~F.col("id").isin(have))
                pad = (
                    ids.orderBy("id")
                    .limit(pool - len(matched))
                    .select("id", F.lit(0.0).alias("bm25"))
                )
                text_top = (
                    self.ctx.spark.createDataFrame(
                        matched, text_top.schema
                    ).unionByName(pad)
                    if matched
                    else pad
                )
        else:
            text_top = (
                ranking.bm25_scores(
                    base, terms, id_col=ID_COL, text_col=DOC_COL
                )
                .select(F.col(ID_COL).alias("id"), "bm25")
                .orderBy(F.col("bm25").desc(), F.col("id"))
                .limit(pool)
            )
        text = hybrid.with_rank(
            text_top, [F.col("bm25").desc(), F.col("id")]
        )
        fused = hybrid.rrf_fuse(
            [vec.select("id", "rank"), text.select("id", "rank")],
            k=k,
            c=rrf_c,
        )
        return fused.withColumnRenamed("id", ID_COL)

    def query_mmr(
        self,
        document: str | None = None,
        k: int = 10,
        filter: Mapping[str, Any] | None = None,
        query_vector: Sequence[float] | None = None,
        pool: int = 50,
        lam: float = 0.5,
    ) -> DataFrame:
        """Diversity-aware retrieval: metadata-pre-filtered cosine pool of
        ``pool`` candidates, then maximal-marginal-relevance greedy
        selection of ``k`` (``operators.similarity.mmr_rerank``) so
        near-duplicate documents can't crowd the result — the re-rank RAG
        stacks apply after ANN, on the engine that can also DEDUP the
        corpus (the two views of the same problem). Returns the full
        document rows plus ``(rank, relevance)``, ascending selection
        rank; ``lam=1`` is plain cosine ranking. Relevance is cosine (the
        MMR paper's similarity), not the ``query()`` L2 contract — the
        two orders agree for normalized embedding providers.

        The pool cut honors the same filter dialect as ``query()``; MMR's
        sequential greedy runs on the collected ``pool``-row candidate
        set (bounded — same envelope as returning the results), never on
        the corpus."""
        if query_vector is None:
            if document is None:
                raise ValueError("need document or query_vector")
            provider = self.ctx.provider_for(self.meta)
            query_vector = embed_texts_local([document], provider)[0]
        pred = self._pred(filter)
        picked = similarity.mmr_rerank(
            self.df().filter(pred), list(query_vector), k=k, pool=pool,
            lam=lam, vec_col=EMB_COL, id_col=ID_COL,
        )
        return (
            picked.join(self.df(), ID_COL)
            .orderBy(F.col("rank").asc())
        )

    def query_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        filter: Mapping[str, Any] | None = None,
        query_vec_col: str = "embedding",
        query_id_col: str = "query_id",
        approximate: bool = False,
        nprobe: int | None = None,
        compressed: bool = False,
        shortlist: int = 50,
    ) -> DataFrame:
        """Batch retrieval: for EVERY row of a query DataFrame, the k
        nearest collection documents — ``query()``'s many-queries form
        (the shape a retrieval/eval pipeline runs, vs the reference's
        one-query-per-call loop, ``db/db.go:111-143``).

        Returns ``(query_id, _m_id, rank)``. Exact mode runs the broadcast
        ``knn_join`` (query side must fit a broadcast); ``approximate=True``
        joins against the materialized IVF index ON THE CELL ID — the query
        side is never broadcast, so this is also the path for huge query
        tables. ``compressed=True`` routes through the at-rest PQ code
        table instead (requires :meth:`build_pq_index`): ADC shortlists
        from stored codes — the batch scans m ints per vector, not raw
        floats — then the exact re-rank (``index_store.pq_index_knn_join``;
        recall bounded by ``shortlist``). ``filter`` applies the usual
        Mongo-dialect metadata pre-filter to the corpus side in every mode
        (filtered ANN semantics, pushed into the scan / semi-joined before
        the compressed shortlist cut).

        ``nprobe`` defaults to 4 in approximate mode. In compressed mode
        it is FORWARDED to the code-table join when given (requires a
        CELLED PQ index, ``build_pq_index(cells=)`` — the code scan then
        prunes to each query's nprobe nearest cells; previously it was
        silently ignored, r13 advice); unset means a full code-table
        scan, the exact-shortlist default. ``compressed`` and
        ``approximate`` name two different index families — asking for
        both is ambiguous and raises rather than silently preferring one.
        """
        if compressed and approximate:
            raise ValueError(
                "query_batch: compressed=True and approximate=True name "
                "two different index paths (PQ code table vs IVF cell "
                "table) — pick one"
            )
        pred = None if filter is None else self._pred(filter)
        if compressed:
            if not self.meta.get("has_pq_index"):
                raise CollectionNotFound(
                    f"collection {self.name} has no PQ index; "
                    "call build_pq_index()"
                )
            return index_store.pq_index_knn_join(
                self.ctx.spark, self.pq_index_path, self.df(), queries,
                topk=k, shortlist=shortlist, nprobe=nprobe,
                query_vec_col=query_vec_col, query_id_col=query_id_col,
                pred=pred,
            ).select(
                query_id_col, ID_COL, F.col("_score").alias("_dist"), "rank"
            )
        if approximate:
            if not self.meta.get("has_index"):
                raise CollectionNotFound(
                    f"collection {self.name} has no index; call build_index()"
                )
            return index_store.ivf_index_knn_join(
                self.ctx.spark, self.index_path, queries, k,
                nprobe=4 if nprobe is None else nprobe,
                query_vec_col=query_vec_col,
                query_id_col=query_id_col, pred=pred,
            )
        corpus = self.df() if pred is None else self.df().filter(pred)
        return knn.knn_join(
            queries, corpus, k,
            query_vec_col=query_vec_col, corpus_vec_col=EMB_COL,
            query_id_col=query_id_col, corpus_id_col=ID_COL,
        )

    def delete(self, filter: Mapping[str, Any]) -> int:
        """Delete every document matching the filter; returns the count
        removed.

        The reference has no row delete (collections are insert-only,
        dropped whole — ``db/kaer.go:65-76``); a real training-data store
        needs one (GDPR/takedown/contamination removal), so this is a
        deliberate extension. Parquet files are immutable, so delete =
        anti-filter rewrite committed atomically by directory swap
        (single-writer model, same as insert). Ids of surviving rows are
        unchanged and ``next_id`` does not regress, so id-stability
        invariants (index addressing, id-range pruning) hold; a dense-id
        HOLE is fine — the allocator only ever moves forward. The IVF
        index, if any, is rebuilt (cells reference deleted ids otherwise).
        """
        if not self.meta.get("has_data"):
            return 0
        pred = self._pred(filter)
        # The pre-delete total rides the rewrite job as an Observation
        # (CollectMetrics over the un-filtered scan) instead of a separate
        # count() scan — one job computes both the surviving rows and the
        # total they were filtered from.
        obs = Observation()
        df = self.df().observe(obs, F.count(F.lit(1)).alias("total"))
        keep = df.filter(~F.coalesce(pred, F.lit(False)))
        return self._commit_rewrite(keep, obs)

    def _commit_rewrite(self, keep: DataFrame, obs: Observation) -> int:
        """Atomically replace the collection data with ``keep`` (directory
        swap, single-writer), then rebuild every owned index family — or
        drop them all when no row is kept. ``obs`` must observe the
        pre-rewrite total on the scan feeding ``keep``. Returns rows
        removed."""
        tmp = self.data_path + ".rewrite"
        keep.write.mode("overwrite").parquet(tmp)
        total = int(obs.get["total"])
        kept_n = read_parquet(self.ctx.spark, tmp).count()
        self._swap_data_dir(tmp)
        owned = [fam for fam in INDEX_FAMILIES if self.meta.get(fam.flag)]
        if kept_n == 0:
            for fam in owned:
                shutil.rmtree(fam.dir_in(self.path), ignore_errors=True)
                self.meta[fam.flag] = False
            self.meta["has_data"] = False
            self._save_meta()
            return total
        for fam in owned:
            # a rewrite can change or remove any document, which an
            # append-only refresh cannot express: rebuild from scratch
            # under the sidecar's geometry, clearing the directory first
            # (the text postings are directory-partitioned, so an
            # overwrite could leave stale buckets behind)
            path = fam.dir_in(self.path)
            geometry = fam.geometry(_live(fam.read_meta)(path), kept_n)
            shutil.rmtree(path, ignore_errors=True)
            self._build(fam, **geometry)
        return total - kept_n

    def near_duplicates(
        self,
        threshold: float = 0.95,
        target_bucket_rows: int | None = 1024,
        seed: int = 7,
    ) -> DataFrame:
        """Near-duplicate pairs ``(id_a, id_b, cosine)`` among the stored
        embeddings — the dedup family (operators.dedup) applied to the
        collection's own ``_m_embedding`` column. Sign-LSH banded
        candidates with exact-cosine verification; band geometry is
        corpus-size-calibrated by default (``target_bucket_rows``), or pass
        ``None`` to use the operator's pinned (bands=4, bits=4) width.
        """
        return dedup.embedding_near_dups_lsh(
            self.df(), id_col=ID_COL, vec_col=EMB_COL,
            threshold=threshold, seed=seed,
            target_bucket_rows=target_bucket_rows,
        )

    def deduplicate(
        self,
        threshold: float = 0.95,
        target_bucket_rows: int | None = 1024,
        method: str = "min_id",
        score_col: str | None = None,
        cells: int = 16,
    ) -> int:
        """Remove near-duplicate documents, keeping one representative of
        each duplicate cluster; returns rows removed.

        ``method="min_id"`` (default) keeps the smallest id.
        ``method="keep_best"`` keeps the HIGHEST-``score_col`` member
        (ties to min id) — the quality-aware policy: near-dup clusters
        usually hold one full document plus truncated copies, and min-id
        happily keeps a truncation; score by length or quality to keep
        the best copy (operators.dedup.cluster_representatives).
        ``method="semantic"`` runs SemDeDup (operators.dedup.semdedup)
        over the stored embeddings: deterministic cells (``cells``,
        clamped to the collection size) bound the pairwise stage and the
        survivor of each cosine group is the member FARTHEST from its
        cell centroid (diversity-preserving); ``threshold`` is the
        cosine cut.

        The end-to-end corpus-hygiene flow (pairs → connected components →
        representative choice → anti-join rewrite) as one collection
        call. The drop set stays a DataFrame through the anti-join — never
        collected to the driver — so the flow holds at any collection size;
        the rewrite is the same atomic directory swap as ``delete`` and
        rebuilds the index if one exists. Ids of survivors are unchanged
        (dense-id holes are fine; the allocator only moves forward).
        """
        if method not in ("min_id", "keep_best", "semantic"):
            raise ValueError(f"unknown dedup method {method!r}")
        if method == "keep_best" and not score_col:
            raise ValueError("method='keep_best' requires score_col")
        if not self.meta.get("has_data"):
            return 0
        if method == "semantic":
            n_rows = self.df().count()
            verdict = dedup.semdedup(
                self.df(),
                id_col=ID_COL,
                vec_col=EMB_COL,
                cells=max(1, min(int(cells), n_rows)),
                threshold=threshold,
                keep="far",
            )
            drop = verdict.filter(~F.col("keep")).select(ID_COL)
            if drop.isEmpty():
                return 0
            obs = Observation()
            df = self.df().observe(obs, F.count(F.lit(1)).alias("total"))
            keep = df.join(drop, ID_COL, "left_anti")
            return self._commit_rewrite(keep, obs)

        pairs = self.near_duplicates(threshold, target_bucket_rows)
        clusters = dedup.dedup_clusters(pairs)
        if method == "keep_best":
            kept = dedup.cluster_representatives(
                self.df(), clusters, id_col=ID_COL, score_col=score_col
            )
            drop = (
                clusters.join(
                    kept.select("cluster_id", "kept_id"), "cluster_id"
                )
                .filter(F.col("id") != F.col("kept_id"))
                .select(F.col("id").alias(ID_COL))
            )
        else:
            drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias(ID_COL)
            )
        if drop.isEmpty():
            return 0
        obs = Observation()
        df = self.df().observe(obs, F.count(F.lit(1)).alias("total"))
        keep = df.join(drop, ID_COL, "left_anti")
        return self._commit_rewrite(keep, obs)

    def deduplicate_against(
        self,
        other: "Collection",
        method: str = "minhash",
        threshold: float | None = None,
        **operator_kwargs,
    ) -> int:
        """Remove from THIS collection every document near-duplicating one
        stored in ``other`` — the incremental-ingest / decontamination flow
        (dedup the new crawl against the training set, or quarantine eval
        overlap) as one collection call; returns rows removed.

        ``method="minhash"`` matches on text (operators.dedup.
        minhash_near_dups_between over ``_m_doc``; catches verbatim and
        lightly-edited copies); ``method="embedding"`` matches on vectors
        (embedding_near_dups_between over ``_m_embedding``, shared sign-LSH
        planes across both corpora; catches paraphrases the lexical path
        misses); ``method="jaccard"`` is the deterministic exact-Jaccard
        screen (ngram_jaccard_between / its at-rest twin — replayable,
        no sampling; joins on 64-bit shingle hashes, whose collision
        bound that docstring states); ``method="fuzzy"`` is the
        edit-distance screen (fuzzy_near_dups_between / PassJoin index —
        OCR-noise/typo variants; pass ``max_edits=`` not ``threshold``);
        ``method="winnow"`` is the passage-overlap screen at MOSS-
        winnowed density (winnow_overlap_between / winnow index —
        ``threshold`` is the shared-fingerprint count, default 2);
        ``method="ngram"`` is GPT-3-style exact n-gram-collision
        decontamination (contamination.contamination_report — ANY shared
        word n-gram flags the doc; ``other`` is the benchmark set, its
        gram set broadcast); ``method="bloom"`` is the same contract
        through the constant-size Bloom bitset (contamination.bloom_
        contamination_report — scan-shaped probe, false positives only
        over-remove). ``threshold`` is the similarity cut for minhash,
        embedding and jaccard and the shared-fingerprint count
        (``min_shared``) for winnow; fuzzy, ngram and bloom reject it.
        Extra ``operator_kwargs`` pass through to the operator (bands,
        seeds, shingle width, n, m_bits, ...). Matched-id sets stay
        DataFrames through the anti-join — never collected — and the
        rewrite is the same atomic swap + index rebuild as
        :meth:`deduplicate`.
        """
        fam = next((f for f in INDEX_FAMILIES if f.method == method), None)
        if fam is None and method not in _REPORT_METHODS:
            methods = [f.method for f in INDEX_FAMILIES if f.method]
            raise ValueError(
                f"method must be one of {methods + list(_REPORT_METHODS)}, "
                f"got {method!r}"
            )
        if threshold is not None and (fam is None or fam.threshold is None):
            raise ValueError(
                f"method={method!r} takes no threshold: fuzzy screens by "
                "edit distance (pass max_edits=/key_len=), ngram and bloom "
                "flag any shared n-gram (pass n=)"
            )
        if not self.meta.get("has_data") or not other.meta.get("has_data"):
            return 0
        if fam is None:
            report = (
                contamination.contamination_report
                if method == "ngram"
                else contamination.bloom_contamination_report
            )
            hits = report(
                self.df(), other.df(),
                text_col=DOC_COL, id_col=ID_COL, **operator_kwargs,
            ).select(F.col("doc_id").alias("left_id"))
        else:
            screen = dict(fam.column)
            if fam.threshold is not None:
                kw, default = fam.threshold
                # type(default): winnow's min_shared is an int count
                screen[kw] = (
                    default if threshold is None else type(default)(threshold)
                )
            if other.meta.get(fam.flag) and not operator_kwargs:
                # transparent accelerator: `other` carries its standing
                # reference artifact, so serve the screen from it instead
                # of re-deriving the reference side per call. Inserts
                # keep the artifact current, and the screen's geometry
                # comes from ITS sidecar, so explicit operator_kwargs
                # fall back to the from-scratch pair.
                hits = _live(fam.against)(
                    self.ctx.spark, fam.dir_in(other.path), self.df(),
                    left_id_col=ID_COL, **screen,
                )
            else:
                hits = _live(fam.between)(
                    self.df(), other.df(),
                    left_id_col=ID_COL, right_id_col=ID_COL,
                    **screen, **operator_kwargs,
                )
        drop = hits.select(F.col("left_id").alias(ID_COL)).distinct()
        if drop.isEmpty():
            return 0
        obs = Observation()
        df = self.df().observe(obs, F.count(F.lit(1)).alias("total"))
        keep = df.join(drop, ID_COL, "left_anti")
        return self._commit_rewrite(keep, obs)

    def remove_boilerplate(
        self,
        min_docs: int = 2,
        sep: str = "\n",
        join_sep: str | None = None,
    ) -> int:
        """Rewrite stored documents in place with corpus-duplicated lines
        removed (operators.dedup.remove_duplicate_lines — the CCNet
        boilerplate strip) and RE-EMBED every changed document so vector
        search stays consistent with the cleaned text; returns documents
        changed.

        Only changed docs pay the embedding cost (the unchanged majority
        passes through untouched); the cleaned line table is
        localCheckpointed so the line-dedup runs once, not once per
        consumer branch. Ids are stable; the rewrite is the same atomic
        directory swap as ``delete`` and rebuilds the index if one
        exists.
        """
        if not self.meta.get("has_data"):
            return 0
        cleaned = (
            dedup.remove_duplicate_lines(
                self.df(),
                id_col=ID_COL,
                text_col=DOC_COL,
                min_docs=min_docs,
                sep=sep,
                join_sep=join_sep,
            )
            .select(ID_COL, "text_clean")
            .localCheckpoint()
        )
        df = self.df()
        cols = df.columns
        joined = df.join(cleaned, ID_COL)
        # null-safe routing: a NULL stored document must land in exactly
        # one branch (both != and == evaluate NULL there, which would
        # silently drop the row from the rewrite)
        changed = joined.filter(~F.col("text_clean").eqNullSafe(F.col(DOC_COL)))
        n_changed = changed.count()
        if n_changed == 0:
            return 0
        unchanged = joined.filter(
            F.col("text_clean").eqNullSafe(F.col(DOC_COL))
        ).select(*cols)
        provider = self.ctx.provider_for(self.meta)
        rewritten = embed_column(
            changed.withColumn(DOC_COL, F.col("text_clean"))
            .drop("text_clean")
            .drop(EMB_COL),
            DOC_COL,
            provider,
            EMB_COL,
        ).select(*cols)
        keep = unchanged.unionByName(rewritten)
        obs = Observation()
        keep = keep.observe(obs, F.count(F.lit(1)).alias("total"))
        self._commit_rewrite(keep, obs)  # nothing removed; rows rewritten
        return n_changed

    def export_to(self, path: str) -> str:
        """Copy the collection (data + catalog sidecar) to ``path`` — a
        self-contained snapshot another context can :meth:`KaerContext.
        import_collection`. Plain directory copy: parquet + JSON are the
        whole state (no daemon, no WAL — the engine-wide recovery
        story)."""
        os.makedirs(path, exist_ok=True)
        # the data directory only exists after the first insert; an empty
        # collection exports a valid sidecar-only snapshot (mirrors
        # import_collection's isdir guard)
        if self.meta.get("has_data") and os.path.isdir(self.data_path):
            shutil.copytree(
                self.data_path, os.path.join(path, "data"), dirs_exist_ok=True
            )
        shutil.copy2(self.meta_path, os.path.join(path, "collection.json"))
        # every owned index family rides the snapshot: the copied sidecar
        # claims them all
        for fam in INDEX_FAMILIES:
            src = fam.dir_in(self.path)
            if self.meta.get(fam.flag) and os.path.isdir(src):
                shutil.copytree(src, fam.dir_in(path), dirs_exist_ok=True)
        return path

    def count(self) -> int:
        return self.df().count() if self.meta.get("has_data") else 0

    def stats(self) -> dict:
        """One-call introspection: document count, id high-water, embedding
        dimension, schemaless flag, one ``has_*`` flag per family of
        :data:`INDEX_FAMILIES`, and IVF geometry (cells/fit/max_id) when
        that index exists — the catalog-level view a reference user gets
        from its meta collection (``db/meta.go:11-28``), without scanning
        more than one count job."""
        out = {
            "name": self.name,
            "n_docs": self.count(),
            "next_id": int(self.meta.get("next_id", 0)),
            "schemaless": bool(self.meta.get("schemaless", False)),
            **{
                fam.flag: bool(self.meta.get(fam.flag, False))
                for fam in INDEX_FAMILIES
            },
        }
        if self.meta.get("dim"):
            out["embedding_dim"] = int(self.meta["dim"])
        if out["has_index"]:
            im = index_store.read_index_meta(self.index_path)
            out["index"] = {
                "cells": im.get("cells"),
                "fit": im.get("fit", "kmeans"),
                "max_id": im.get("max_id"),
            }
        return out

    #: compaction target: ~128 MB parquet files, the HDFS/S3 sweet spot
    COMPACT_TARGET_BYTES = 128 * 1024 * 1024

    def data_files(self) -> list[str]:
        """The collection's parquet data files (for maintenance/tests)."""
        if not self.meta.get("has_data"):
            return []
        return sorted(
            os.path.join(self.data_path, f) for f in data_files(self.data_path)
        )

    def compact(
        self,
        target_files: int | None = None,
        target_bytes: int | None = None,
    ) -> int:
        """Rewrite the data directory into right-sized parquet files;
        returns the resulting file count.

        Every small ``insert`` batch appends its own file(s), so an
        insert-heavy collection degrades into thousands of tiny files —
        the classic small-files problem (scan tasks, open() overhead, and
        footer reads all scale with file count, not bytes). ``compact``
        is the maintenance op the reference cannot have (its store is a
        remote FerretDB); here it is a **coalesce** rewrite — no shuffle,
        executors just concatenate input splits — committed by the
        ``_swap_data_dir`` discipline (write to a temp dir, verify the
        row count, manifest the commit point, two renames, drop the old)
        so a crash at any point leaves the collection reopenable:
        :func:`heal_data_swap` rolls forward after the manifest,
        backward before it. Content-preserving: rows, ids, schema, and
        every attached index are unchanged (indexes address ids, not
        files) — no rebuild, unlike :meth:`delete`'s rewrite.

        Sizing: ``target_files`` wins if given; else ``ceil(on-disk
        bytes / target_bytes)`` with ``target_bytes`` defaulting to
        ~128 MB (the HDFS/S3 sweet spot). Already-compact collections
        short-circuit (a rewrite to MORE files never happens)."""
        if not self.meta.get("has_data"):
            return 0
        files = self.data_files()
        if target_files is None:
            total = sum(os.path.getsize(f) for f in files)
            tb = int(target_bytes or self.COMPACT_TARGET_BYTES)
            target_files = max(1, -(-total // tb))
        if target_files >= len(files):
            return len(files)  # already at least this compact
        tmp = self.data_path + ".rewrite"
        # the pre-rewrite total rides the rewrite job as an Observation —
        # verify without a second full scan (the delete-path economics)
        obs = Observation()
        src = self.df().observe(obs, F.count(F.lit(1)).alias("total"))
        src.coalesce(int(target_files)).write.mode("overwrite").parquet(tmp)
        before = int(obs.get["total"])
        after = read_parquet(self.ctx.spark, tmp).count()
        if after != before:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"compact row-count check failed ({before} -> {after}) — "
                "compacted directory discarded, original untouched"
            )
        self._swap_data_dir(tmp)
        return len(self.data_files())


class KaerContext:
    """Top-level handle — the reference's ``Kaer`` (``db/kaer.go:15-26``)
    minus the embedded-server ladder: a root directory + a SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        default_provider: EmbeddingProvider | None = None,
    ):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.default_provider = default_provider or HashingEmbedder()
        self._collections: dict[str, Collection] = {}

    def provider_for(self, meta: dict[str, Any]) -> EmbeddingProvider:
        if meta.get("embedder") == "hashing":
            return HashingEmbedder(dim=int(meta.get("dim", 64)), seed=int(meta.get("seed", 42)))
        return self.default_provider

    # reference O1, db/kaer.go:28-40
    def create_collection(
        self, name: str, dim: int | None = None, schemaless: bool = False
    ) -> Collection:
        """``schemaless=True`` reproduces the reference's raw-BSON metadata
        contract: rows may carry arbitrary ragged/nested keys, stored as one
        JSON column and filtered through the variant compiler. The typed
        default remains the scale path (parquet predicate pushdown on real
        columns); schemaless is the long-tail escape hatch."""
        path = os.path.join(self.root, name, "collection.json")
        if os.path.exists(path):
            raise ValueError(f"collection {name} already exists")
        provider = self.default_provider
        meta = {
            "name": name,
            "dim": dim or provider.dim,
            "metric": "l2sq",
            "embedder": "hashing" if isinstance(provider, HashingEmbedder) else "http",
            "seed": getattr(provider, "seed", 42),
            "next_id": 0,
            "has_data": False,
            "schema": None,
            "schemaless": bool(schemaless),
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        coll = Collection(self, name, meta)
        coll._save_meta()
        self._collections[name] = coll
        return coll

    def import_collection(self, name: str, snapshot_path: str) -> "Collection":
        """Register a :meth:`Collection.export_to` snapshot as collection
        ``name`` in THIS context — backup restore / cross-environment
        handoff. The snapshot is copied (the source stays untouched), the
        catalog sidecar's name is rewritten, and everything else —
        allocator cursor, schema, index — carries over verbatim, so ids
        keep allocating where the source left off."""
        dest = os.path.join(self.root, name)
        if os.path.exists(os.path.join(dest, "collection.json")):
            raise ValueError(f"collection {name} already exists")
        meta = read_sidecar(os.path.join(snapshot_path, "collection.json"))
        os.makedirs(dest, exist_ok=True)
        if os.path.isdir(os.path.join(snapshot_path, "data")):
            shutil.copytree(
                os.path.join(snapshot_path, "data"),
                os.path.join(dest, "data"),
                dirs_exist_ok=True,
            )
        for fam in INDEX_FAMILIES:
            if os.path.isdir(fam.dir_in(snapshot_path)):
                shutil.copytree(
                    fam.dir_in(snapshot_path), fam.dir_in(dest),
                    dirs_exist_ok=True,
                )
        meta["name"] = name
        coll = Collection(self, name, meta)
        coll._save_meta()
        self._collections[name] = coll
        return coll

    # reference O2, db/kaer.go:42-63
    def get_collection(self, name: str) -> Collection:
        if name in self._collections:
            return self._collections[name]
        path = os.path.join(self.root, name, "collection.json")
        if not os.path.exists(path):
            raise CollectionNotFound(name)
        coll = Collection(self, name, read_sidecar(path))
        self._collections[name] = coll
        return coll

    # reference O3, db/kaer.go:65-76 (also removes data files — the
    # reference leaks its .hnsw files; we do not)
    def drop_collection(self, name: str) -> None:
        self._collections.pop(name, None)
        path = os.path.join(self.root, name)
        if not os.path.isdir(path):
            raise CollectionNotFound(name)
        shutil.rmtree(path)

    def list_collections(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, "collection.json"))
        )
