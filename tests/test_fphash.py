"""[r18] Bit-exactness pins for the vectorized (Arrow/numpy) window
hashes in ``kaer_spark.functions.fphash`` against pure-Python evaluations of
the published hash definitions (the same definitions the DuckDB oracle
SQL embeds): paired-moduli window fingerprints, minhash signatures, and
the MOSS winnowing selection with the rightmost-tie rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaer_spark.functions.fphash import (
    HASH_BASE,
    HASH_BASE2,
    HASH_MOD,
    HASH_MOD2,
    minhash_sig_col,
    window_fps_col,
    winnow_selections_col,
)
from kaer_spark.operators.dedup import minhash_coeffs

EDGE_TEXTS = [
    "hello world, hello world, hello world",
    "short",
    "",
    "exactly-16-chars",
    "héllo wörld — unicode façade",
    "日本語テキストの重複検出テスト日本語テキスト",
    "emoji 😀🎉 astral 𝕏𝕐 pairs 😀🎉",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",  # max ties
    "abcdefghijklmnop" * 8,
]


def _py_window_fps(t: str, L: int) -> list[int]:
    cs = [ord(c) for c in t]
    out = []
    for i in range(len(cs) - L + 1):
        h1 = 0
        h2 = 0
        for k in range(L):
            h1 = (h1 + cs[i + k] * pow(HASH_BASE, L - 1 - k, HASH_MOD)) % HASH_MOD
            h2 = (
                h2 + cs[i + k] * pow(HASH_BASE2, L - 1 - k, HASH_MOD2)
            ) % HASH_MOD2
        out.append(h1 * HASH_MOD2 + h2)
    return out


def _py_h1_fps(t: str, N: int) -> list[int]:
    cs = [ord(c) for c in t]
    out = []
    for i in range(len(cs) - N + 1):
        h = 0
        for k in range(N):
            h = (h + cs[i + k] * pow(HASH_BASE, N - 1 - k, HASH_MOD)) % HASH_MOD
        out.append(h)
    return out


@pytest.fixture()
def edge_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], ["doc_id", "text"]
    )


def test_window_fps_col_matches_python(edge_df):
    L = 16
    rows = edge_df.filter(F.length("text") >= L).select(
        "doc_id", window_fps_col("text", L).alias("fps")
    ).collect()
    assert rows
    for r in rows:
        assert list(r["fps"]) == _py_window_fps(EDGE_TEXTS[r["doc_id"]], L)


def test_minhash_sig_col_matches_python(edge_df):
    N, coeffs = 8, minhash_coeffs(16, seed=42)
    rows = edge_df.filter(F.length("text") >= N).select(
        "doc_id", minhash_sig_col("text", N, coeffs).alias("sig")
    ).collect()
    assert rows
    for r in rows:
        fps = sorted(set(_py_h1_fps(EDGE_TEXTS[r["doc_id"]], N)))
        want = [min((f * a + b) % HASH_MOD for f in fps) for a, b in coeffs]
        assert list(r["sig"]) == want


def _py_winnow(t: str, K: int, W: int) -> set[tuple[int, int]]:
    h = _py_window_fps(t, K)
    if not h:
        return set()
    sel = set()
    if len(h) <= W:
        m = min(h)
        pos = max(i for i, x in enumerate(h) if x == m)
        return {(pos, m)}
    for j in range(len(h) - W + 1):
        win = h[j : j + W]
        m = min(win)
        pos = j + max(i for i, x in enumerate(win) if x == m)
        sel.add((pos, m))
    return sel


def test_winnow_selections_col_matches_python(edge_df):
    K, W = 16, 8
    rows = edge_df.filter(F.length("text") >= K).select(
        "doc_id", winnow_selections_col("text", K, W).alias("s")
    ).collect()
    assert rows
    for r in rows:
        got = set(zip(r["s"]["p"], r["s"]["f"]))
        assert got == _py_winnow(EDGE_TEXTS[r["doc_id"]], K, W)


def test_window_fps_col_matches_python_on_fixture(documents):
    """The real sf0.001 corpus, passage geometry (L=32): every doc's
    vectorized fingerprint array equals the Python evaluation."""
    L = 32
    rows = (
        documents.filter(F.length("text") >= L)
        .select("doc_id", "text", window_fps_col("text", L).alias("fps"))
        .limit(40)
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r["fps"]) == _py_window_fps(r["text"], L)
