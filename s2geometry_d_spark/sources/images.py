"""Deterministic synthetic image+caption table (BASELINE.json input_hint).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long) + derived placement (lat, lng, extent_deg).

Real image codecs are not available in this container, so ``bytes`` holds a
deterministic FAKE encoding (seeded byte pattern with a tiny header); the
decode stub in operators/multimodal.py inverts it exactly.  The Spark-side
plumbing — schema, binary column, Arrow batching, partitioning — is real;
swapping in PIL/libjpeg later only changes the two codec functions.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tables

W = H = 64
_MULT1 = 2654435761
_MULT2 = 2246822519
_MOD = 1000003

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lng", T.DoubleType(), False),
        T.StructField("extent_deg", T.DoubleType(), False),
    ]
)


_YXC = (
    np.arange(H, dtype=np.uint32)[:, None, None] * np.uint32(7919)
    + np.arange(W, dtype=np.uint32)[None, :, None] * np.uint32(104729)
    + np.arange(3, dtype=np.uint32)[None, None, :] * np.uint32(1299709)
)


def fake_pixels(seed: int) -> np.ndarray:
    """Deterministic H x W x 3 uint8 'image' for a seed — pure integer hash
    (vectorized; no RNG object per row).  The uint32 products wrap by
    design; computed on arrays (:func:`fake_pixels_batch`), they wrap
    without numpy's scalar-overflow warning."""
    return fake_pixels_batch(np.asarray([seed]))[0]


def fake_pixels_batch(seeds: np.ndarray) -> np.ndarray:
    """(n, H, W, 3) reference renders for a whole batch of seeds — the
    batched form of fake_pixels (identical values)."""
    s = seeds.astype(np.uint32)[:, None, None, None]
    v = (s * np.uint32(2654435761) + _YXC[None, ...]) * np.uint32(2246822519)
    return ((v >> np.uint32(16)) & np.uint32(0xFF)).astype(np.uint8)


def fake_encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Stub codec: 8-byte header + raw (png) or coarsely-quantized (jpeg)
    pixel payload.  NOT a real codec — marked clearly; see module docstring."""
    header = b"FAKE" + fmt[:3].encode().ljust(3, b"\0") + b"\1"
    if fmt == "jpeg":
        # lossy stand-in: 6-bit quantization -> PSNR ~42.7 dB (finite, above
        # the 40 dB per-row invariant, below lossless)
        payload = ((pixels >> 2) << 2).tobytes()
    else:
        payload = pixels.tobytes()
    return header + payload


def synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image table derived 1:1 from ``documents`` rows (deterministic)."""
    # parallelize generation: the documents parquet is a single file/split,
    # which would serialize the python generator on one core
    n_parts = spark.sparkContext.defaultParallelism
    docs = tables.load_table(spark, sf_dir, "documents").repartition(n_parts)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                i = int(doc_id)
                image_id = f"img{i:012d}"
                fmt = "png" if i % 2 == 0 else "jpeg"
                pix = fake_pixels(i)
                u = ((i * _MULT1 + 12345) % _MOD) / _MOD
                v = ((i * _MULT2 + 678901) % _MOD) / _MOD
                lat = float(np.degrees(np.arcsin(2 * u - 1)))
                lng = 360.0 * v - 180.0
                phash = struct.unpack(
                    ">q", hashlib.sha256(image_id.encode()).digest()[:8]
                )[0]
                rows.append(
                    (
                        image_id,
                        fake_encode(pix, fmt),
                        W,
                        H,
                        fmt,
                        f"synthetic image {i} at {lat:.6f},{lng:.6f}",
                        phash,
                        lat,
                        lng,
                        0.5 + (i % 10) / 10.0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_SCHEMA.fields]
            )

    return docs.select("doc_id", "text").mapInPandas(gen, IMAGE_SCHEMA)


def synth_images_cached(spark: SparkSession, sf_dir: str, cache_root: str | None = None) -> DataFrame:
    """Materialized image table (parquet) — the fact table is *stored*, not
    regenerated per query; generation happens once per sf_dir, and the
    table is read once per session (``tables.stored``) until it has to be
    written again.  The default ``cache_root`` is ``.cache/images`` in the
    checkout holding this package."""
    import os

    if cache_root is None:
        checkout = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        cache_root = os.path.join(checkout, ".cache", "images")
    key = sf_dir.rstrip("/").replace("/", "_")
    path = os.path.join(cache_root, key)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        tables.forget(spark, path)
        synth_images(spark, sf_dir).write.mode("overwrite").parquet(path)
    return tables.stored(spark, path)


VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fps", T.DoubleType(), False),
    ]
)


def video_frame_seed(doc_id: int, t: int) -> int:
    """Seed of frame ``t`` of video ``doc_id`` — closed form so a SQL
    oracle re-derives any frame's pixels without the codec."""
    return doc_id * 131 + 9973 * t


def fake_video_encode(frames: np.ndarray) -> bytes:
    """Stub video container: 8-byte header + raw concatenated frames
    ((n, H, W, 3) uint8).  NOT a real codec — same contract as fake_encode;
    swapping in pyav/ffmpeg later only changes this pair of functions."""
    return b"FAKVraw\1" + frames.tobytes()


def fake_video_decode(data: bytes, n_frames: int) -> np.ndarray:
    if data[:4] != b"FAKV":
        raise NotImplementedError("real video codec path (pyav) not available")
    return np.frombuffer(data, dtype=np.uint8, offset=8).reshape(
        n_frames, H, W, 3
    )


def synth_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video table derived 1:1 from ``documents``: 6..12 deterministic
    frames per row (frame t = fake_pixels(video_frame_seed(doc_id, t)))."""
    n_parts = spark.sparkContext.defaultParallelism
    docs = tables.load_table(spark, sf_dir, "documents").repartition(n_parts)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n_frames = 6 + i % 7
                seeds = np.array(
                    [video_frame_seed(i, t) for t in range(n_frames)]
                )
                frames = fake_pixels_batch(seeds)
                rows.append(
                    (
                        f"vid{i:012d}",
                        fake_video_encode(frames),
                        n_frames,
                        W,
                        H,
                        24.0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_SCHEMA.fields]
            )

    return docs.select("doc_id").mapInPandas(gen, VIDEO_SCHEMA)
