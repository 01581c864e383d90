"""Vectorized (Arrow + numpy) paired-moduli window fingerprints, the
minhash signature fold and the winnowing selection — the engine's one
implementation of the window-hash primitive.

Spark evaluates higher-order-function trees (``transform`` over a
per-window hash chain) INTERPRETED per element — whole-stage codegen
does not cover lambda functions. Profiling (r18) put the interpreted
fingerprint stage of ``winnow_overlap`` at ~20s of executor CPU plus
~30s of allocation/GC stall for 1.5 MB of text: every window evaluated
a ~70-node tree per modulus. Guide §4.2's rule applies exactly — let
Spark do distribution and hand whole Arrow batches to vectorized
native code.

Hash definitions (the same ones the DuckDB oracle SQL embeds):

* codepoints — Unicode code points, obtained from a UTF-32-LE
  reinterpretation of the Python string, with no per-char loop. They
  equal Spark's ``transform(split(text, ''), c -> ascii(c))`` (the
  source ``cdc_chunks`` folds chunks from) over astral/combining/CJK
  text.
* window hash — ``Σ c[i+k]·B^(L-1-k) mod P``, one ``% P`` after the
  full dot product; that equals the stepwise Horner fold's residue,
  and the unreduced int64 dot is overflow-free (codepoint < 2^21,
  power < 2^30, so L terms stay < L·2^51 — safe through L = 2048; the
  families use L ≤ 64). The fingerprint packs two such hashes (base 31
  mod 1e9+7, base 131 mod 1e9+9) as ``h1·MOD2 + h2`` — ~60 collision
  bits in one int64.
* minhash slots — ``(f·a + b) % P`` with f, a < P ≈ 2^30 stays < 2^61
  in int64; the per-slot minimum over the distinct window hashes is
  order-independent.

Every function here is pinned against pure-Python evaluations of these
definitions (``tests/test_fphash.py``, and ``_py_cdc`` in
``tests/test_dedup.py`` for content-defined chunking), and every riding
query is oracle-checked. The Spark-side UDFs are named ``fphash_*`` so
plan-contract tests can allow exactly these Python nodes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
HASH_BASE = 31
# second independent modulus/base for the window fingerprint: the pair
# packs into one int64 (max (MOD-1)*MOD2 + MOD2-1 ≈ 1.0e18), giving ~60
# collision bits instead of ~30 — at 1e12 windows (100 TB-scale) the
# expected colliding PAIRS drop from "nearly everything" to ~5e5
# corpus-wide, and the destructive transforms verify those exactly anyway
HASH_MOD2 = 1_000_000_009
HASH_BASE2 = 131


def _codes(t: str):
    """Unicode code points of ``t`` as an int64 numpy array (vectorized
    — a UTF-32-LE reinterpretation, no per-character Python loop)."""
    return np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )


def _window_hashes(codes, length: int, base: int, mod: int):
    """All ``length``-char window hashes of ``codes`` (one int64 per
    0-based window start), exactly ``Σ c[i+k]·base^(L-1-k) mod P``."""
    pw = np.array(
        [pow(base, length - 1 - k, mod) for k in range(length)],
        dtype=np.int64,
    )
    if len(codes) < length:
        return np.empty(0, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(codes, length)
    return (win @ pw) % mod


def _fphash_udf(return_type: str):
    """``F.pandas_udf(return_type)``, after shipping ``kaer_spark`` to the
    Python workers of the active session: the UDFs below unpickle by
    importing this module."""
    # late import: the operators package imports dedup, which imports this module
    from kaer_spark.operators.util import ensure_package_shipped

    ensure_package_shipped(SparkSession.active())
    return F.pandas_udf(return_type)


def paired_window_fps(
    t: str,
    length: int,
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
    base2: int = HASH_BASE2,
    mod2: int = HASH_MOD2,
):
    """The engine-wide ~60-bit paired-moduli window fingerprints of
    ``t`` — ``h1·MOD2 + h2`` per window, one per 0-based window start.
    The moduli are parameters so callers (dedup) bind THEIR module
    constants at call time — tests monkeypatch those to force
    collisions."""
    codes = _codes(t)
    h1 = _window_hashes(codes, length, base, mod)
    h2 = _window_hashes(codes, length, base2, mod2)
    return h1 * mod2 + h2


def window_fps_col(
    text_col: str,
    length: int,
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
    base2: int = HASH_BASE2,
    mod2: int = HASH_MOD2,
) -> Column:
    """``array<long>`` of all ``length``-char paired-moduli window
    fingerprints (index = 0-based window start), evaluated in one Arrow
    batch per partition chunk. ``text_col`` is a column name."""
    L = int(length)
    ms = (int(base), int(mod), int(base2), int(mod2))

    @_fphash_udf("array<long>")
    def fphash_window_fps(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield pd.Series(
                [
                    paired_window_fps(t, L, *ms) if t is not None else None
                    for t in texts
                ]
            )

    return fphash_window_fps(text_col)


def minhash_sig_col(
    text_col: str,
    n: int,
    coeffs: list[tuple[int, int]],
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
) -> Column:
    """``array<long>`` minhash signature — per slot j the minimum of
    ``(f·a_j + b_j) mod P`` over the distinct ``n``-char window hashes
    (base 31 mod 1e9+7)."""
    N = int(n)
    BS, MD = int(base), int(mod)
    A = [int(a) for a, _ in coeffs]
    B = [int(b) for _, b in coeffs]

    @_fphash_udf("array<long>")
    def fphash_minhash_sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        a = np.array(A, dtype=np.int64)[:, None]
        b = np.array(B, dtype=np.int64)[:, None]
        for texts in it:
            out = []
            for t in texts:
                if t is None or len(t) < N:
                    out.append(None)
                    continue
                fps = np.unique(_window_hashes(_codes(t), N, BS, MD))
                out.append(((fps[None, :] * a + b) % MD).min(axis=1))
            yield pd.Series(out)

    return fphash_minhash_sig(text_col)


def winnow_selections_col(
    text_col: str,
    k: int,
    window: int,
    base: int = HASH_BASE,
    mod: int = HASH_MOD,
    base2: int = HASH_BASE2,
    mod2: int = HASH_MOD2,
) -> Column:
    """``struct<p: array<long>, f: array<long>>`` of the winnowed
    selections of ``text_col`` — parallel arrays of (0-based window
    start, paired-moduli fingerprint), one entry per selected window,
    with the MOSS tie rule (minimum hash, rightmost on ties) and the
    truncated-single-window convention.
    Duplicates across adjacent windows are NOT collapsed here; the
    caller keeps its ``distinct()``."""
    K, W = int(k), int(window)
    ms = (int(base), int(mod), int(base2), int(mod2))

    @_fphash_udf("struct<p: array<long>, f: array<long>>")
    def fphash_winnow_sel(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            ps, fs = [], []
            for t in texts:
                if t is None or len(t) < K:
                    ps.append(None)
                    fs.append(None)
                    continue
                h = paired_window_fps(t, K, *ms)
                n = len(h)
                if n == 0:
                    ps.append(np.empty(0, dtype=np.int64))
                    fs.append(np.empty(0, dtype=np.int64))
                    continue
                if n <= W:
                    # one truncated window: its min, rightmost on ties
                    m = h.min()
                    pos = np.flatnonzero(h == m)[-1]
                    ps.append(np.array([pos], dtype=np.int64))
                    fs.append(np.array([m], dtype=np.int64))
                    continue
                win = np.lib.stride_tricks.sliding_window_view(h, W)
                mins = win.min(axis=1)
                # rightmost index of the min within each window (the
                # paper's tie rule): scan reversed, take first match
                rev = win[:, ::-1]
                off = W - 1 - np.argmax(rev == mins[:, None], axis=1)
                pos = np.arange(len(mins), dtype=np.int64) + off
                ps.append(pos)
                fs.append(mins)
            yield pd.DataFrame({"p": ps, "f": fs})

    return fphash_winnow_sel(text_col)
