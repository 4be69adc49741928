"""Deterministic synthetic audio table — the audio leg of the multimodal
triad (images / audio / video as opaque binary + typed metadata).

Schema: (audio_id string, bytes binary, sr int, n_samples int,
channels int).  Real audio codecs are not available in this container,
so ``bytes`` holds a deterministic FAKE encoding (8-byte header + raw
int16 little-endian PCM); the decode stub in operators/multimodal.py
inverts it exactly and raises the documented ``NotImplementedError`` for
any real format.  The Spark-side plumbing — binary column, Arrow
batching, chunked mapInPandas kernels — is real; a real decoder
(soundfile/ffmpeg) slots into the same guard later.

Samples use the same integer-hash generator family as sources/images.py
so the DuckDB oracle can re-derive every sample value in SQL:

    v(seed, i) = ((seed * 2654435761 + i * 7919) * 2246822519) mod 2^32
    u(seed, i) = (v >> 16) mod 65536
    s(seed, i) = u - 65536 if u >= 32768 else u       (int16 bit pattern)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tables

N_SAMPLES = 4096
SAMPLE_RATE = 16000
_MULT1 = np.uint32(2654435761)
_MULT2 = np.uint32(2246822519)
_STEP = np.uint32(7919)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
    ]
)

_I = np.arange(N_SAMPLES, dtype=np.uint32)


def fake_samples(seed: int) -> np.ndarray:
    """Deterministic int16 PCM vector for a seed (vectorized; uint32
    wraparound is the generator's modulus, not an error)."""
    with np.errstate(over="ignore"):
        v = (np.uint32(seed) * _MULT1 + _I * _STEP) * _MULT2
    return ((v >> np.uint32(16)) & np.uint32(0xFFFF)).astype(np.int32).astype(
        np.int16
    )


def fake_encode_audio(samples: np.ndarray) -> bytes:
    """Stub codec: 8-byte header + raw int16 LE payload.  NOT a real
    codec — marked clearly; see module docstring."""
    return b"FAKA" + b"pcm" + b"\1" + samples.astype("<i2").tobytes()


def decode_audio(data: bytes, fmt_hint: str = "pcm") -> np.ndarray:
    """Invert the stub codec; any real format raises the documented
    NotImplementedError (no audio libs in this container)."""
    data = bytes(data)
    if data[:4] == b"FAKA":
        return np.frombuffer(data, dtype="<i2", offset=8)
    raise NotImplementedError(f"no decoder available for format {fmt_hint!r}")


def synth_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One clip per document row (seed = doc_id), generated parallel in
    Arrow batches — same derivation the SQL oracle states."""
    docs = tables.load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                s = fake_samples(int(doc_id))
                rows.append(
                    (
                        f"aud{int(doc_id):012d}",
                        fake_encode_audio(s),
                        SAMPLE_RATE,
                        N_SAMPLES,
                        1,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["audio_id", "bytes", "sr", "n_samples", "channels"]
            )

    return docs.repartition(32).mapInPandas(gen, AUDIO_SCHEMA)
