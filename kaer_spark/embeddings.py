"""Embedding providers — the engine's one pluggable scalar function.

Mirrors the reference's Cohere wrapper (``/root/reference/db/cohere.go:20-50``:
batch ≤96 texts per call, float64→float32 conversion) as an Arrow-batched
``mapInPandas`` stage, which is the Spark-idiomatic shape for a remote- or
model-call per row: one provider call per Arrow batch, never per row.

Two implementations:

* ``HashingEmbedder`` — deterministic, offline, seeded; the test/default
  provider (tests must never hit a network, SURVEY.md §5.2).
* ``HTTPEmbedder`` — Cohere-style REST provider; constructible, but its
  network call raises unless an endpoint is explicitly configured, and it is
  never used by the test surface.

Scale notes: embedding at 100 TB is the dominant cost of ingest. The
provider runs inside ``mapInPandas`` so it parallelizes per input partition
with zero shuffle; batch size is a provider property (96 mirrors Cohere's
limit) and the Arrow batch size bounds peak memory.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaer_spark.operators.util import ensure_package_shipped


class EmbeddingProvider:
    """Interface: batch text → list of float32 vectors."""

    dim: int = 64
    max_batch: int = 96  # reference: CohereMaxTexts, db/cohere.go:10

    def embed(self, texts: Sequence[str]) -> list[list[float]]:
        out: list[list[float]] = []
        for i in range(0, len(texts), self.max_batch):
            out.extend(self._embed_batch(texts[i : i + self.max_batch]))
        return out

    def _embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        raise NotImplementedError


class HashingEmbedder(EmbeddingProvider):
    """Deterministic seeded feature-hashing embedder (offline test default).

    Tokens are hashed (blake2b, keyed by seed) into ``dim`` buckets with a
    sign hash, then the vector is L2-normalized — a classic hashing-trick
    embedding: deterministic across processes, cheap, and similar texts get
    similar vectors (shared tokens share buckets).
    """

    def __init__(self, dim: int = 64, seed: int = 42):
        self.dim = dim
        self.seed = seed

    def _token_bucket(self, tok: str) -> tuple[int, float]:
        h = hashlib.blake2b(
            tok.encode("utf-8"), digest_size=8, key=str(self.seed).encode()
        ).digest()
        v = int.from_bytes(h, "big")
        return v % self.dim, 1.0 if (v >> 63) & 1 else -1.0

    def _embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        out = []
        for t in texts:
            vec = np.zeros(self.dim, dtype=np.float64)
            for tok in t.lower().split():
                b, s = self._token_bucket(tok)
                vec[b] += s
            n = math.sqrt(float(np.dot(vec, vec)))
            if n > 0:
                vec /= n
            out.append(np.asarray(vec, dtype=np.float32).tolist())
        return out


class HTTPEmbedder(EmbeddingProvider):
    """Cohere-compatible REST provider (batched). Network-gated: raises
    unless an endpoint is configured; exists to mirror the reference's
    provider surface (``db/cohere.go``), not for the test path."""

    #: reference model→dim map, config/config.go:59
    MODEL_DIMS = {"multilingual-22-12": 768, "small": 1024, "large": 4096}

    def __init__(self, endpoint: str | None = None, model: str = "small", api_key: str = ""):
        self.endpoint = endpoint
        self.model = model
        self.api_key = api_key
        self.dim = self.MODEL_DIMS.get(model, 1024)

    def _embed_batch(self, texts: Sequence[str]) -> list[list[float]]:
        if not self.endpoint:
            raise NotImplementedError(
                "HTTPEmbedder requires an explicit endpoint; tests use HashingEmbedder"
            )
        import json
        import urllib.request

        req = urllib.request.Request(
            self.endpoint,
            data=json.dumps({"texts": list(texts), "model": self.model}).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req) as resp:  # pragma: no cover
            payload = json.load(resp)
        return [[float(x) for x in e] for e in payload["embeddings"]]


def embed_column(
    df: DataFrame,
    text_col: str,
    provider: EmbeddingProvider,
    out_col: str = "_m_embedding",
) -> DataFrame:
    """Append an embedding column via an Arrow-batched ``mapInPandas`` stage.

    The provider object is pickled once into the task closure (small); each
    Arrow batch makes ⌈batch/max_batch⌉ provider calls. No shuffle.
    """
    ensure_package_shipped(df.sparkSession)
    fields = df.schema.fields + [
        T.StructField(out_col, T.ArrayType(T.FloatType()), True)
    ]
    out_schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = provider.embed(pdf[text_col].fillna("").tolist())
            pdf = pdf.copy()
            pdf[out_col] = vecs
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def embed_texts_local(texts: Sequence[str], provider: EmbeddingProvider) -> list[list[float]]:
    """Driver-side embedding for query texts (k ≪ data; no job needed)."""
    return provider.embed(texts)
