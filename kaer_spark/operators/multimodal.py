"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize / frame-sample stages as
Arrow-batched ``mapInPandas`` operators.

The container has no image/audio codecs, so the *decode* step is stubbed:
``decode=\"real\"`` raises ``NotImplementedError`` unless PIL/soundfile are
importable, and the default ``decode=\"fake\"`` derives deterministic
pseudo-features from the raw bytes. Everything Spark-side — schema,
partition flow, UDF signatures, Arrow batch shapes — is real and tested;
swapping the fake for a codec is a one-function change.

Scale notes (100 TB of media):

* media bytes stay in executor-side Arrow buffers; nothing but the
  extracted features ever shuffles. Feature extraction is a narrow map.
* batch memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — set it low (e.g. 64) for multi-MB media values.
* the blob column should be stored LAST in parquet files and pruned unless
  needed (column pruning means metadata-only queries never touch bytes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaer_spark.operators.util import ensure_package_shipped

#: typed metadata carried beside every media blob
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def attach_fake_media(df: DataFrame, text_col: str = "text", media_col: str = "media") -> DataFrame:
    """Deterministically synthesize a media blob per row (UTF-8 bytes of the
    text — a stand-in payload) plus typed metadata. Pure Catalyst exprs."""
    blob = F.encode(F.col(text_col), "UTF-8")
    n = F.octet_length(blob).cast("long")
    meta = F.struct(
        F.lit("application/x-fake").alias("mime"),
        n.alias("n_bytes"),
        (F.pmod(n, F.lit(640)) + 1).cast("int").alias("width"),
        (F.pmod(n * 7, F.lit(480)) + 1).cast("int").alias("height"),
        (n * 40).alias("duration_ms"),
    )
    return df.withColumn(media_col, blob).withColumn(f"{media_col}_meta", meta)


FEATURE_DIM = 16

_FEATURE_FIELDS = [
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("byte_mean", T.DoubleType(), False),
    T.StructField("byte_histogram", T.ArrayType(T.LongType()), False),
    T.StructField("content_digest", T.StringType(), False),
]


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    decode: str = "fake",
    digest: str = "blake2b",
) -> DataFrame:
    """Per-blob feature extraction over ``mapInPandas`` (Arrow batches).

    ``decode="real"`` would hand bytes to a codec — unavailable in this
    container, so it raises ``NotImplementedError``. ``decode="fake"``
    computes deterministic byte-level features (length, mean, 16-bucket
    histogram, blake2b digest): real plumbing, fake optics.
    """
    if decode == "real":
        raise NotImplementedError(
            "no image/audio codecs in this environment; use decode='fake' "
            "(swap this branch for PIL/soundfile on a real cluster)"
        )
    if decode != "fake":
        raise ValueError(f"decode must be 'real' or 'fake', got {decode!r}")

    ensure_package_shipped(df.sparkSession)
    out_schema = T.StructType(
        [df.schema[id_col]] + _FEATURE_FIELDS
    )
    dim = FEATURE_DIM
    if digest == "blake2b":
        digest_fn = lambda b: hashlib.blake2b(b, digest_size=8).hexdigest()  # noqa: E731
    elif digest == "md5":  # md5 exists in common SQL oracles (cross-checkable)
        digest_fn = lambda b: hashlib.md5(b).hexdigest()  # noqa: E731
    else:
        raise ValueError(f"unknown digest {digest!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[media_col]):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                hist = np.bincount(arr // (256 // dim), minlength=dim)
                rows.append(
                    {
                        id_col: rid,
                        "n_bytes": int(arr.size),
                        "byte_mean": float(arr.mean()) if arr.size else 0.0,
                        "byte_histogram": hist.astype(np.int64).tolist(),
                        "content_digest": digest_fn(bytes(blob)),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)


def resize_images(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
    decode: str = "fake",
) -> DataFrame:
    """Image resize stage: blob → fixed ``width × height`` grayscale blob.

    The Spark plumbing (Arrow batches in, binary column out, blobs never
    shuffle) is real; only the pixel *decode* is environment-gated:
    ``decode="real"`` uses PIL if importable and raises
    ``NotImplementedError`` otherwise, ``decode="fake"`` (default) treats
    the raw bytes as a pixel stream and nearest-neighbor-resamples them to
    exactly ``width × height`` bytes — deterministic, codec-free.
    """
    use_pil = False
    if decode == "real":
        try:
            import PIL.Image  # noqa: F401

            use_pil = True
        except ImportError:
            raise NotImplementedError(
                "decode='real' requires PIL, not present in this container; "
                "use decode='fake' (identical plumbing, byte-level resample)"
            )
    elif decode != "fake":
        raise ValueError(f"decode must be 'real' or 'fake', got {decode!r}")

    ensure_package_shipped(df.sparkSession)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("resized", T.BinaryType(), False),
            T.StructField("out_width", T.IntegerType(), False),
            T.StructField("out_height", T.IntegerType(), False),
        ]
    )
    w, h = int(width), int(height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[media_col]):
                raw = bytes(blob)
                if use_pil:
                    from PIL import Image

                    img = Image.open(io.BytesIO(raw)).convert("L").resize((w, h))
                    out = img.tobytes()
                else:
                    src = np.frombuffer(raw, dtype=np.uint8)
                    if src.size == 0:
                        src = np.zeros(1, dtype=np.uint8)
                    # nearest-neighbor resample of the byte stream to w*h
                    idx = (np.arange(w * h) * src.size) // (w * h)
                    out = src[idx].tobytes()
                rows.append(
                    {id_col: rid, "resized": out, "out_width": w, "out_height": h}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)


def sample_frames(
    df: DataFrame, media_col: str = "media", every_ms: int = 1000
) -> DataFrame:
    """Video frame sampling — decode-dependent; deterministic *frame index*
    computation is real (from metadata), frame decode is stubbed."""
    meta = f"{media_col}_meta"
    if meta not in df.columns:
        raise ValueError(f"missing {meta} column (see attach_fake_media)")
    idx = F.sequence(
        F.lit(0), F.greatest(F.col(f"{meta}.duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return df.withColumn("frame_offsets_ms", idx)


DHASH_W, DHASH_H = 9, 8  # 9-wide rows → 8 horizontal comparisons per row


def image_dhash(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    decode: str = "fake",
) -> DataFrame:
    """Difference-hash perceptual fingerprint per image blob →
    ``(id_col, dhash array<long>)`` of 8 row-bytes: the blob resamples to
    a 9×8 grid (same nearest-neighbor formula as :func:`resize_images`'
    fake decode — PIL-gated for real pixels), and bit ``c`` of row ``r``
    is set iff ``p[r,c] < p[r,c+1]`` — dHash, the standard cheap
    perceptual hash (robust to rescaling/re-encoding, which byte-exact
    dedup misses entirely).

    Arrow-batched ``mapInPandas`` (vectorized numpy per batch); the
    fingerprint is 8 small ints, so everything downstream of the decode
    is pure relational and SQL-replayable byte-for-byte.
    """
    if decode == "real":
        try:
            import PIL.Image  # noqa: F401
        except ImportError:
            raise NotImplementedError(
                "decode='real' requires PIL, not present in this container; "
                "use decode='fake' (identical plumbing, byte-level resample)"
            )
    elif decode != "fake":
        raise ValueError(f"decode must be 'real' or 'fake', got {decode!r}")
    ensure_package_shipped(df.sparkSession)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("dhash", T.ArrayType(T.LongType()), False),
        ]
    )
    use_pil = decode == "real"
    w, h = DHASH_W, DHASH_H

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[media_col]):
                raw = bytes(blob)
                if use_pil:
                    from PIL import Image

                    img = Image.open(io.BytesIO(raw)).convert("L").resize((w, h))
                    px = np.asarray(img, dtype=np.int64).reshape(h, w)
                else:
                    src = np.frombuffer(raw, dtype=np.uint8)
                    if src.size == 0:
                        src = np.zeros(1, dtype=np.uint8)
                    idx = (np.arange(w * h) * src.size) // (w * h)
                    px = src[idx].astype(np.int64).reshape(h, w)
                bits = (px[:, :-1] < px[:, 1:]).astype(np.int64)  # h × (w-1)
                weights = (1 << np.arange(w - 1, dtype=np.int64))
                rows.append({id_col: rid, "dhash": (bits * weights).sum(axis=1).tolist()})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)


def image_near_dups(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    decode: str = "fake",
) -> DataFrame:
    """Perceptual near-duplicate image pairs: ``(id_a < id_b, hamming)``
    with dHash hamming distance ≤ ``max_hamming`` — image dedup for the
    multimodal corpus (re-encoded/rescaled copies that byte dedup and
    text dedup both miss).

    Banding is COMPLETE at the declared threshold (the r11 fix — a fixed
    four-band split silently missed pairs at distance 4..6 under the old
    ``max_hamming=6`` default): the 64-bit fingerprint splits into
    ``max_hamming + 1`` near-equal bit slices (pigeonhole: at most
    ``max_hamming`` differing bits spread over ``max_hamming + 1`` bands
    leave at least one band identical), so every pair within threshold is
    guaranteed a candidate and banding is purely a pruning strategy —
    the result is exactly the all-pairs answer. A pair is a candidate
    when ANY band matches, then the full 64-bit hamming verifies via
    bit_count(xor) folds — the SimHash machinery shape, one modality
    over. Wider thresholds mean narrower band keys and fatter buckets
    (the unavoidable LSH trade); everything after the Arrow decode stays
    Catalyst expressions with a bit-exact SQL replay.
    """
    sigs = image_dhash(df, media_col, id_col, decode).localCheckpoint(
        eager=False
    )
    # max(…, 2) keeps every band ≤ 32 bits (a 64-bit single-band key
    # would overflow the signed long); extra bands never break the
    # pigeonhole guarantee, they only add candidates
    n_bands = min(max(int(max_hamming) + 1, 2), 64)
    bounds = [i * 64 // n_bands for i in range(n_bands + 1)]

    def _band_key(b: int):
        lo, hi = bounds[b], bounds[b + 1]
        key = F.lit(0).cast("long")
        for j in range(lo, hi):
            bit = F.shiftright(
                F.element_at("dhash", j // 8 + 1), j % 8
            ).bitwiseAND(F.lit(1))
            key = key + (bit * F.lit(1 << (j - lo)))
        return key

    bands = sigs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_key(b).alias("key"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("dhash").alias("da"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("dhash").alias("db"))
    ham = F.aggregate(
        F.zip_with("da", "db", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
    )
