"""Vector distance expressions — Catalyst higher-order functions, no UDFs.

The reference's distance is squared L2 evaluated inside its HNSW library
(SURVEY.md O15; call site ``/root/reference/db/db.go:137``). Here distances
are ordinary column expressions (``zip_with`` + ``aggregate``), so they run
JVM-side under whole-stage codegen and Catalyst can plan
``ORDER BY dist LIMIT k`` as ``TakeOrderedAndProject`` — a per-partition
heap top-k with no global sort and no resident index.

All arithmetic is performed in float64 (inputs cast from ``array<float>``),
which both makes results deterministic across runs and matches what a
float64 oracle (DuckDB) computes on the same parquet data: the float32 →
float64 widening is exact, and the subsequent IEEE ops are identical.
"""

from __future__ import annotations

import math
import re
import threading
from collections import OrderedDict
from collections.abc import Sequence
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

#: simple (unqualified) column names we can safely backtick into SQL text
_SIMPLE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# [r18] Parsed-expression cache: the literal-vector SQL strings this
# module emits (ADC distance tables, LSH plane-fold band keys, centroid
# tables — thousands of double literals each) are identical across calls
# within a session (the artifact meta they derive from is fixture-
# stable), yet each F.expr round-trip re-parses the whole string on the
# DRIVER (guide §7.3: query construction is single-threaded driver work;
# r17 item 4 cut the per-element py4j storm, this removes the repeated
# PARSE of the surviving one-call strings). Keyed by the SQL text and
# scoped to the live SparkContext: a Column is an immutable unresolved
# expression handle, safe to embed in any number of plans, but its
# underlying java object dies with the JVM — the context check drops the
# cache when the session is restarted (tests stop/start sessions).
# This caches no data and no results — construction only. One lock guards
# the LRU: a multi-user application builds queries from several threads.
_EXPR_CACHE_MAX = 512
_expr_cache: OrderedDict[str, Column] = OrderedDict()
_expr_cache_ctx: object | None = None
_expr_cache_lock = threading.Lock()


def cached_expr(sql: str) -> Column:
    """``F.expr(sql)`` memoized per live SparkContext (see above)."""
    global _expr_cache_ctx
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return F.expr(sql)
    with _expr_cache_lock:
        if sc is not _expr_cache_ctx:
            _expr_cache.clear()
            _expr_cache_ctx = sc
        col = _expr_cache.get(sql)
        if col is None:
            col = F.expr(sql)
            _expr_cache[sql] = col
            if len(_expr_cache) > _EXPR_CACHE_MAX:
                _expr_cache.popitem(last=False)
        else:
            _expr_cache.move_to_end(sql)
    return col


def fold_literal_sql_text(
    col_name: str, vals: list[float], zip_body: str
) -> str:
    """SQL text of ``aggregate(zip_with(col, lit_array, zip), 0.0,
    (acc, x) -> acc + x)`` for a literal right-hand vector. Parses to the
    same ``ArrayAggregate(ZipWith(...))`` tree the per-call
    ``F.zip_with``/``F.aggregate`` builders produce (only the generated
    lambda-variable names differ), so evaluation is bit-identical — but
    it costs one gateway round-trip instead of the ~10 a pair of Python
    higher-order-function lambdas costs, which dominates driver-side
    plan construction for expressions with many literal vectors (LSH
    plane sets, centroid tables). Callers must pre-validate with
    :func:`_literal_fold_args` (simple identifier, finite values)."""
    arr = "array(" + ",".join(repr(x) + "D" for x in vals) + ")"
    return (
        f"aggregate(zip_with(cast(`{col_name}` as array<double>), {arr}, "
        f"(x, y) -> {zip_body}), 0.0D, (acc, x) -> acc + x)"
    )


def _fold_literal_sql(
    col_name: str, vals: list[float], zip_body: str
) -> Column:
    return cached_expr(fold_literal_sql_text(col_name, vals, zip_body))


def _literal_fold_args(
    a: ColumnOrName, b: object
) -> tuple[str, list[float]] | None:
    """(column_name, finite_literal_vector) when the fast parsed-fold
    path applies, else None."""
    if not (isinstance(a, str) and _SIMPLE_IDENT.match(a)):
        return None
    if not isinstance(b, (list, tuple)) or not b:
        return None
    vals = [float(x) for x in b]
    if not all(math.isfinite(x) for x in vals):
        return None
    return a, vals


def _as_col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _as_double_array(v: ColumnOrName | Sequence[float]) -> Column:
    """Accept a column name, a Column, or a Python list of floats.

    Literal vectors go through ONE ``F.expr`` parser round-trip instead of
    ``len(v)`` per-element ``F.lit`` gateway calls: a query that embeds
    many literal vectors (LSH plane sets, IVF centroid tables, query
    points) otherwise spends whole seconds of DRIVER time just
    constructing columns (measured ~45ms per 64-dim array per-element vs
    ~1.5ms parsed). Bit-exact by construction — ``repr`` emits the
    shortest decimal that round-trips binary64 and the SQL parser's
    double conversion is correctly rounded, so the parsed literals are
    the same doubles and the parsed tree is the same
    ``CreateArray(Literal…)`` the per-element path builds (verified
    bit-identical over subnormals, extremes, and signed zeros).
    Non-finite values (no SQL double literal form) keep the per-element
    path.
    """
    if isinstance(v, (list, tuple)):
        return double_array_lit(v)
    return _as_col(v).cast("array<double>")


def _lit_tree_sql(v) -> str | None:
    """SQL text for an arbitrarily nested double-array literal, or None
    when any leaf is non-finite / any level is empty (no SQL literal
    form — callers fall back to the per-element path)."""
    if isinstance(v, (list, tuple)):
        if not v:
            return None
        parts = [_lit_tree_sql(x) for x in v]
        if any(p is None for p in parts):
            return None
        return "array(" + ",".join(parts) + ")"
    x = float(v)
    return repr(x) + "D" if math.isfinite(x) else None


def double_nested_lit(v: Sequence) -> Column:
    """Arbitrarily nested ``array<…<double>>`` literal in one parser
    round-trip — the PQ ADC distance tables are ``m × 2^nbits`` doubles
    (2048 elements at the common 8×256 geometry) and the stored codebooks
    ``m × k × d``, which the per-element path turns into thousands of
    gateway calls per query (see :func:`_as_double_array`)."""
    sql = _lit_tree_sql(v)
    if sql is not None:
        return cached_expr(sql)
    if v and isinstance(v[0], (list, tuple)):
        return F.array(*[double_nested_lit(r) for r in v])
    return F.array(*[F.lit(float(x)) for x in v])


def double_array_lit(vals: Sequence[float]) -> Column:
    """``array<double>`` literal in one parser round-trip (see
    :func:`_as_double_array` for the bit-exactness argument)."""
    return double_nested_lit(vals)


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """``array<array<double>>`` literal in one parser round-trip."""
    return double_nested_lit(rows)


def _both_ident(a, b) -> bool:
    return (
        isinstance(a, str)
        and isinstance(b, str)
        and bool(_SIMPLE_IDENT.match(a))
        and bool(_SIMPLE_IDENT.match(b))
    )


def _fold_cols_sql(a: str, b: str, zip_body: str) -> Column:
    """Parsed form of the two-named-column fold (same tree as the
    builder path — see :func:`fold_literal_sql_text`)."""
    return cached_expr(
        f"aggregate(zip_with(cast(`{a}` as array<double>), "
        f"cast(`{b}` as array<double>), (x, y) -> {zip_body}), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def l2sq(a: ColumnOrName, b: ColumnOrName | Sequence[float]) -> Column:
    """Squared Euclidean distance between two vectors (column or literal)."""
    fast = _literal_fold_args(a, b)
    if fast is not None:
        return _fold_literal_sql(fast[0], fast[1], "(x - y) * (x - y)")
    if _both_ident(a, b):
        return _fold_cols_sql(a, b, "(x - y) * (x - y)")
    aa, bb = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: ColumnOrName, b: ColumnOrName | Sequence[float]) -> Column:
    fast = _literal_fold_args(a, b)
    if fast is not None:
        return _fold_literal_sql(fast[0], fast[1], "x * y")
    if _both_ident(a, b):
        return _fold_cols_sql(a, b, "x * y")
    aa, bb = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vector_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName | Sequence[float]) -> Column:
    """Cosine similarity; NULL-safe for zero vectors (returns NULL)."""
    fast = _literal_fold_args(a, b)
    if fast is not None:
        nb = float(_norm_of(fast[1]))
        if math.isfinite(nb):
            # one parsed expression for the whole literal-vector cosine:
            # same CASE WHEN / division / fold tree as the builder path
            # below (the denom subtree appears twice there too)
            name, vals = fast
            selfdot = (
                f"aggregate(zip_with(cast(`{name}` as array<double>), "
                f"cast(`{name}` as array<double>), (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            )
            denom_sql = f"(sqrt({selfdot}) * {repr(nb)}D)"
            dot_sql = fold_literal_sql_text(name, vals, "x * y")
            return cached_expr(
                f"case when {denom_sql} != 0.0D then "
                f"({dot_sql}) / {denom_sql} end"
            )
    denom = vector_norm(a) * (
        F.lit(float(_norm_of(b))) if isinstance(b, (list, tuple)) else vector_norm(b)
    )
    return F.when(denom != 0.0, dot(a, b) / denom)


def _norm_of(v: Sequence[float]) -> float:
    return sum(float(x) * float(x) for x in v) ** 0.5
