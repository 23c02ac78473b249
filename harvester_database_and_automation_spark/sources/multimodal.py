"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus a typed metadata struct — the
pattern a 100TB training-data pipeline needs: Spark moves and filters the
bytes, partition sizing keeps blobs off the driver, and all per-item
compute runs as Arrow-batched ``mapInPandas`` stages.

Codec availability is probed at import (``PIL_AVAILABLE``): where Pillow
is importable, ``fake=False`` runs a REAL image decode through
the same Arrow-batched stages; where it is not (this container),
``fake=False`` raises NotImplementedError and ``fake=True`` selects the
deterministic fake decoder (byte statistics standing in for
pixels/samples). Audio/video codecs (ffmpeg/librosa) remain stubbed in
both cases — their rows take the byte-stat path on the real decoder so
a mixed-kind frame never kills the stage. The Spark-side contract —
schemas, batch iteration, explode shapes, partitioning — is identical
on every path and fully tested.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional image codec (environment rule: import-try, never install)
    from PIL import Image  # noqa: F401

    PIL_AVAILABLE = True
except ImportError:
    PIL_AVAILABLE = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, byte_sum long, mean_byte double,"
    " content_sha256 string"
)

FEATURE_DIM = 16
FEATURES_SCHEMA = "media_id long, features array<double>"


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode binary media to per-item statistics.

    ``fake=False`` + Pillow importable: image rows REALLY decode —
    pixels via ``PIL.Image`` (converted to 8-bit grayscale so the stat
    columns stay one-byte-per-sample), stats computed over the DECODED
    pixel bytes; audio/video rows fall back to raw-byte stats (their
    codecs remain stubbed). ``fake=False`` without Pillow raises
    NotImplementedError. ``fake=True`` always runs the deterministic
    fake decoder (raw-byte length, mean, sha256) through the SAME
    mapInPandas plumbing, any environment.
    """
    if not fake and not PIL_AVAILABLE:
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not available in this environment; "
            "pass fake=True for the deterministic fake decoder"
        )
    if not fake:

        def _decode_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from PIL import Image  # executor-side import

            for pdf in batches:
                samples = []
                for kind, b in zip(pdf["kind"], pdf["content"]):
                    b = b if b is not None else b""
                    if kind == "image" and b:
                        samples.append(Image.open(io.BytesIO(b)).convert("L").tobytes())
                    else:
                        samples.append(b)
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "kind": pdf["kind"],
                        "n_bytes": [len(s) for s in samples],
                        "byte_sum": [sum(s) for s in samples],
                        "mean_byte": [(sum(s) / len(s)) if s else 0.0 for s in samples],
                        "content_sha256": [hashlib.sha256(s).hexdigest() for s in samples],
                    }
                )

        return df.mapInPandas(_decode_real, schema=DECODED_SCHEMA)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a null payload is a dirty row, not a stage-killer: decode it
            # to empty-content stats (schema columns stay non-null)
            content = pdf["content"].map(lambda b: b if b is not None else b"")
            # byte_sum is the exact integer; mean_byte the derived double —
            # exact ints let downstream aggregates stay drift-free
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": content.map(len),
                    "byte_sum": content.map(sum),
                    "mean_byte": content.map(
                        lambda b: (sum(b) / len(b)) if len(b) else 0.0
                    ),
                    "content_sha256": content.map(lambda b: hashlib.sha256(b).hexdigest()),
                }
            )

    return df.mapInPandas(_decode, schema=DECODED_SCHEMA)


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Deterministic pseudo-embedding per media item (sha256-seeded), via
    mapInPandas — the exact shape a real CLIP/wav2vec feature stage has:
    binary in, fixed-width float vector out, no shuffle."""

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                [b / 255.0 for b in hashlib.sha256(content or b"").digest()[:dim]]
                for content in pdf["content"]
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return df.mapInPandas(_features, schema=FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for videos: one output row per kept frame index,
    derived from metadata only (n_frames) — the decode of each kept frame
    is a later mapInPandas stage. Pure relational explode; no UDF.

    Zero-frame videos are filtered first: they sample to nothing, and
    Spark's ``sequence(0, -1, step)`` raises on the inverted bounds rather
    than returning an empty array."""
    return (
        df.filter((F.col("kind") == "video") & (F.col("meta.n_frames") > 0))
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )
