"""File sources/sinks with scale discipline baked in.

The reference has no file formats at all (its storage is a document store
it boots itself — SURVEY.md §2.3 "Scans/sources/sinks"); this module is the
engine's connector surface:

* parquet is the interchange format (columnar, predicate pushdown, min/max
  pruning); other formats are read with ``spark.read`` directly, under an
  explicit schema wherever the format allows it;
* this module holds the engine's only parquet readers: :func:`read_parquet`
  infers a table's schema at most once per session (the schema memo
  below), and :func:`read_catalogued` reads under a schema a catalog
  already keeps, with no inference;
* :func:`write_sidecar` is the engine's one atomic-flip path for a local JSON
  sidecar (index watermarks, rollup specs, the collection catalog and its
  swap manifest), and :func:`read_sidecar` its reader.

Sidecar flip. ``write_sidecar`` writes a tmp file beside the target, flushes
and fsyncs it, then renames it over the target with ``os.replace``. A
reader sees the old sidecar or the new one, never a part of one, and after
a power loss the renamed file holds its full bytes instead of being
empty. A stranded ``<name>.tmp`` is the only trace a crash can leave. The
JSON is compact (no indentation).

Schema memo. Inferring a parquet schema is one Spark job (a footer read,
merged across files under ``mergeSchema``) on every read. A catalog-backed
store knows each table's schema instead: a collection's ``data/`` (and the
part files an insert just wrote) is read through :func:`read_catalogued`
under the catalog's ``meta["schema"]``, and never infers. For the tables
with no catalog schema (index tables, fixtures, a legacy catalog)
``read_parquet`` keeps a memo:

* it holds metadata only — the ``StructType`` Spark inferred — never rows;
* an entry is keyed by the live SparkContext, the absolute path and the
  ``mergeSchema`` flag, and it is valid while the path's listing is
  unchanged: the relative name, size and ``st_mtime_ns`` of every file
  under it, taken with one ``os.walk`` before the read. Any write through
  Spark (append, overwrite, directory swap) adds or renames part files, so
  the next read misses and re-infers;
* a hit passes the memoised schema to ``.schema(...)``, so the read fires no
  job and returns exactly the schema Spark inferred on the miss (column
  order, nullability, partition columns);
* Spark lists the path again inside ``.parquet(...)``. A hit is kept only
  if that list (``df.inputFiles()``, driver-side, no job) equals the data
  files of the miss; a writer that lands between the two listings sends
  the read back to inference instead of dropping its new columns;
* only local paths are memoised. Remote schemes (``hdfs://``, ``s3a://``)
  and glob patterns read uncached, because listing them would need the
  remote filesystem client or Spark's own glob expansion.

The memo is bounded (LRU), guarded by one lock, and cleared when the
SparkContext changes — the discipline of ``functions.vector.cached_expr``.
A rewrite that keeps every file's name, size and mtime is invisible to it;
Spark's writers never do that (part-file names carry the write job's id).
Session confs that change the parquet type mapping (``nanosAsLong``,
``binaryAsString``) are not part of the key: set them before a path's first
read in the session, as ``functions.time.read_events`` does.

Delta/Iceberg/Hudi need jars not present in this environment; see
``open_table`` for the gated stub.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_SCHEMA_MEMO_MAX = 1024
_schema_memo: OrderedDict[tuple, tuple[tuple, frozenset, T.StructType]] = OrderedDict()
_schema_memo_ctx: object | None = None
_schema_memo_lock = threading.Lock()


def _local_path(path: str) -> str | None:
    """Absolute local path behind ``path``, or None when the memo must not
    serve it (a remote scheme, or a glob Spark expands itself)."""
    if any(c in path for c in "*?[{"):
        return None
    u = urlparse(path)
    if u.scheme == "file":
        return os.path.abspath(u.path)
    if u.scheme:
        return None
    return os.path.abspath(path)


def _listing(root: str) -> tuple | None:
    """(relative name, size, st_mtime_ns) of every file under ``root``,
    sorted; None if ``root`` does not exist."""
    try:
        st = os.stat(root)
    except OSError:
        return None
    if not os.path.isdir(root):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for dirpath, _dirs, names in os.walk(root, followlinks=True):
        for n in names:
            full = os.path.join(dirpath, n)
            try:
                st = os.stat(full)
            except OSError:  # vanished mid-listing: a writer is active
                return None
            out.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    out.sort()
    return tuple(out)


def data_files(path: str) -> frozenset[str]:
    """Relative names of the files under the local table at ``path`` that
    Spark would read: those with no hidden path component, by Spark's
    rule (a name starting with ``.``, or with ``_`` and holding no ``=``:
    a ``_SUCCESS`` marker, a ``.crc`` checksum or a crashed write's
    ``_temporary/`` is hidden, a ``_cell=3/`` partition is not). Empty
    for a missing table, or when a file vanishes mid-listing. Driver-side,
    no job."""

    def hidden(c: str) -> bool:
        return c.startswith(".") or (c.startswith("_") and "=" not in c)

    listing = _listing(_local_path(path) or path) or ()
    return frozenset(
        name
        for name, _size, _mtime in listing
        if not any(hidden(c) for c in name.split(os.sep))
    )


def has_data_files(path: str) -> bool:
    """Whether the local table at ``path`` holds a file Spark would read
    (:func:`data_files`). Lets a caller skip the Spark read of a missing or
    empty table, and the warning Spark logs for it, without a job."""
    return bool(data_files(path))


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet read whose schema inference runs once per listing (see the
    module docstring). ``merge_schema`` merges every file's footer — needed
    where appends may add columns; otherwise Spark takes one file's schema.
    """
    global _schema_memo_ctx
    options = {"mergeSchema": "true"} if merge_schema else {}
    local = _local_path(path)
    listing = _listing(local) if local is not None else None
    if listing is None:
        df = spark.read.options(**options).parquet(path)
        return df.select(*columns) if columns else df
    sc = spark.sparkContext
    key = (local, merge_schema)
    with _schema_memo_lock:
        if sc is not _schema_memo_ctx:
            _schema_memo.clear()
            _schema_memo_ctx = sc
        hit = _schema_memo.get(key)
        if hit is not None and hit[0] == listing:
            _schema_memo.move_to_end(key)
            _, files, schema = hit
        else:
            schema = None
    if schema is not None:
        df = spark.read.options(**options).schema(schema).parquet(path)
        # Spark lists the path again inside .parquet(): a writer that
        # landed in between must not be read under the old schema
        if frozenset(df.inputFiles()) != files:
            schema = None
    if schema is None:
        df = spark.read.options(**options).parquet(path)
        with _schema_memo_lock:
            if sc is _schema_memo_ctx:
                _schema_memo[key] = (listing, frozenset(df.inputFiles()), df.schema)
                _schema_memo.move_to_end(key)
                if len(_schema_memo) > _SCHEMA_MEMO_MAX:
                    _schema_memo.popitem(last=False)
    return df.select(*columns) if columns else df


def read_catalogued(
    spark: SparkSession, paths: list[str], schema: T.StructType
) -> DataFrame:
    """Parquet read of the tables or part files ``paths`` under the schema
    a catalog keeps for them (a collection's ``meta["schema"]``, the union
    of every batch it appended). Nothing is inferred, so the read fires no
    job and takes no memo entry; a column a file lacks reads as NULL, as
    under ``mergeSchema``."""
    return spark.read.schema(schema).parquet(*paths)


def read_sidecar(path: str):
    """Load the JSON sidecar at ``path`` (written by :func:`write_sidecar`)."""
    with open(path) as f:
        return json.load(f)


def write_sidecar(path: str, obj) -> None:
    """Flip the JSON sidecar at ``path`` to ``obj`` atomically and durably
    (see the module docstring). Creates the parent directory."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table — the co-located-join
    layout: two tables bucketed the same way on the join key join WITHOUT a
    shuffle (verified in tests/test_sources.py), which at 100 TB turns the
    recurring fact-fact join from the dominant cost into a map-side merge.
    ``sort_by`` additionally orders rows inside each bucket file, giving
    min/max-pruned point lookups on the sort key (the z-order-lite layout
    for the hot filter column).

    Bucketing requires the catalog (``saveAsTable``) — plain ``.save(path)``
    silently drops bucket metadata.
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def open_table(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Jar-gated format reader: lakehouse formats (delta/iceberg/hudi) and
    avro (built-in but an EXTERNAL module since Spark 2.4 — absent from
    the plain pip distribution) raise a clear NotImplementedError when
    their jars are missing instead of Spark's generic lookup failure."""
    if fmt in ("delta", "iceberg", "hudi", "avro"):
        try:
            return spark.read.format(fmt).load(path)
        except Exception as e:  # noqa: BLE001
            raise NotImplementedError(
                f"{fmt} requires its connector jars on the classpath "
                f"(not present in this environment): {e}"
            ) from e
    return spark.read.format(fmt).load(path)
