"""Scalar/vector/text function library (all Catalyst-native expressions).

The reference's only scalar computation is a float64→float32 conversion
(``/root/reference/db/cohere.go:64-70``); everything here is an extension, but
built exclusively from ``pyspark.sql.functions`` so it stays inside
whole-stage codegen — no Python in the hot path.
"""

from kaer_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2sq,
    vector_norm,
)
from kaer_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    token_count,
    tokens,
    word_shingles,
)

__all__ = [
    "l2sq",
    "dot",
    "cosine_similarity",
    "vector_norm",
    "tokens",
    "token_count",
    "char_shingles",
    "word_shingles",
    "punct_ratio",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
]
