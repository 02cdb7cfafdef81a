"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; the
Spark-side plumbing (schema, batch shape, partition sizing, Arrow transfer)
is real and tested. The codec step itself is STUBBED: the decode libraries
are not in this container, so ``decode_image`` raises NotImplementedError
unless ``fake=True`` selects the deterministic fake decoder (byte-stats
features), which keeps the UDF signature, batch shape and schema identical
to a real decoder swap-in.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .worker import worker_body

__all__ = [
    "MEDIA_SCHEMA",
    "attach_fake_media",
    "extract_media_features",
    "resize_images",
    "sample_frames",
]

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("payload", T.BinaryType()),      # opaque encoded bytes
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def attach_fake_media(documents: DataFrame) -> DataFrame:
    """Deterministic fake media payloads derived from the text column (test
    fixture for the binary plumbing): payload = utf-8 bytes, media_type
    cycles by doc_id."""
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        "doc_id",
        mt.alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.length("text") * 10).cast("int").alias("duration_ms"),
    )


def _decode(payload: bytes, media_type: str, fake: bool) -> np.ndarray:
    if not fake:
        # real decoders (PIL / torchaudio / pyav) are not available in this
        # environment; swap this branch for the actual codec call on a
        # cluster image that ships them.
        raise NotImplementedError(
            "media codecs not available in this environment; use fake=True"
        )
    # integer-exact byte stats (count/sum/min/max/mod-sums): every value is
    # an exact int64 -> exact double, so the fake-decode output replays
    # bit-for-bit in the DuckDB oracle (a real decoder swap-in keeps the
    # identical signature/shape and simply loses the oracle)
    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.int64)
    return np.array(
        [
            float(arr.size),
            float(arr.sum()),
            float(arr.min()),
            float(arr.max()),
            float((arr * arr).sum() % 9973),
            float(arr[:: max(1, arr.size // 8)].sum() % 997),
        ],
        dtype=np.float64,
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),   # re-encoded resized bytes
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),   # one encoded frame
    ]
)


def resize_images(
    media: DataFrame, *, width: int = 32, height: int = 32, fake: bool = True
) -> DataFrame:
    """Image resize stage over Arrow batches of encoded payloads
    (mapInPandas; 1 row in -> 1 row out, narrow). The codec is stubbed:
    ``fake=True`` emits a deterministic byte-subsample of the payload sized
    width*height (a real deployment swaps the body for PIL decode ->
    resize -> re-encode; schema / batch shape / partitioning identical)."""

    @worker_body
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            rows = pdf[pdf["media_type"] == "image"]
            payloads = []
            for p in rows["payload"]:
                if not fake:
                    raise NotImplementedError(
                        "image codecs not available in this environment; "
                        "use fake=True"
                    )
                arr = np.frombuffer(p or b"\x00", dtype=np.uint8)
                idx = (np.arange(target) * max(1, arr.size // target)) % arr.size
                payloads.append(arr[idx].tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": rows["doc_id"],
                    "media_type": rows["media_type"],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(gen, schema=RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, *, every_ms: int = 1000, max_frames: int = 8,
    fake: bool = True,
) -> DataFrame:
    """Video frame-sampling stage: 1 video row in -> up to ``max_frames``
    frame rows out (mapInPandas fan-out — the batch shape a real ffmpeg/pyav
    sampler produces). Stubbed codec: each fake frame is a deterministic
    byte-slice of the payload tagged with its timestamp."""

    @worker_body
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf[pdf["media_type"] == "video"]
            out = {"doc_id": [], "frame_idx": [], "frame_ms": [], "payload": []}
            for doc_id, p, dur in zip(
                rows["doc_id"], rows["payload"], rows["duration_ms"]
            ):
                if not fake:
                    raise NotImplementedError(
                        "video codecs not available in this environment; "
                        "use fake=True"
                    )
                # pandas surfaces a NULL duration as NaN (truthy!): guard
                # explicitly so a missing duration defaults to one frame
                # instead of int(NaN) raising and failing the whole task
                dur_ms = 0 if pd.isna(dur) else int(dur)
                n = min(max_frames, max(1, dur_ms // every_ms))
                arr = np.frombuffer(p or b"\x00", dtype=np.uint8)
                step = max(1, arr.size // max(n, 1))
                for i in range(n):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_ms"].append(i * every_ms)
                    out["payload"].append(arr[i * step:(i + 1) * step].tobytes())
            yield pd.DataFrame(out)

    return media.mapInPandas(gen, schema=FRAME_SCHEMA)


def extract_media_features(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches of binary payloads —
    the exact plumbing a real decode/resize/frame-sample stage uses (one
    batch of encoded payloads in, one batch of feature vectors out; narrow,
    no shuffle)."""

    @worker_body
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode(p, m, fake).tolist()
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)
