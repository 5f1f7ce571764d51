"""Multimodal (image/audio/video) column plumbing for training-data pipelines.

Media travel as opaque ``binary`` columns + a typed metadata struct; all
per-item work runs in Arrow-batched ``mapInPandas`` stages so the Spark-side
contract — schema, batch shape, partition sizing — is real and tested even
though heavyweight codecs (ffmpeg/torchaudio) are absent in this
container. Decoding goes through the ``MEDIA_DECODERS`` registry: the
default ``deterministic-fake`` decoder derives features from a sha256 of
the bytes (stable, content-sensitive); ``real`` is a REAL PIL image
decoder when PIL is importable; ``wav`` is a REAL audio decoder for
RIFF/WAV PCM built on the stdlib ``wave`` module + numpy (always
available — energy envelope + spectrum bands). Registering another
decoder is a one-line swap and changes no plan shape; only video decode
remains stubbed (ffmpeg territory).

Scale notes: media rows are large — pipelines should set
``spark.sql.files.maxPartitionBytes`` low enough that a partition of blobs
fits executor memory, and use ``spark.sql.execution.arrow.maxRecordsPerBatch``
to bound Arrow batch bytes (e.g. 64 for 4 MB images).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),   # image | audio | video
        StructField("format", StringType()),       # jpeg | png | wav | mp4 ...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def _fake_decode(blob: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: 64 floats derived from the
    content hash. Content-sensitive + reproducible; NOT a real decode."""
    if blob is None:
        return np.zeros(64, dtype=np.float32)
    h = hashlib.sha256(blob).digest()
    seed = int.from_bytes(h[:8], "big")
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal(64).astype(np.float32)


def _real_decode_unavailable(blob: bytes) -> np.ndarray:
    raise NotImplementedError(
        "real media decoding requires PIL/ffmpeg, not present in this "
        "container; register a decoder in MEDIA_DECODERS"
    )


def _pil_decode(blob: bytes) -> np.ndarray:
    """Real image decode via PIL: grayscale 8×8 thumbnail → 64 floats in
    [0, 1] — the same output contract as the fake decoder, so swapping
    decoders changes no schema or plan shape. The import lives in the
    function body: the callable is resolved driver-side and travels in the
    closure, and executors re-importing this module resolve PIL themselves."""
    import io

    from PIL import Image

    if blob is None:
        return np.zeros(64, dtype=np.float32)
    img = Image.open(io.BytesIO(blob)).convert("L").resize((8, 8))
    return (np.asarray(img, dtype=np.float32) / 255.0).reshape(-1)


def real_decoder_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def _wav_decode(blob: bytes) -> np.ndarray:
    """REAL audio decode for RIFF/WAV PCM — stdlib ``wave`` + numpy, no
    external codec. Output contract matches every other decoder (64
    float32 features) so the registry swap changes no schema or plan:
    32 RMS-energy envelope bins (time) ∥ 32 averaged log-magnitude
    spectrum bands (frequency). 8/16/32-bit PCM, any channel count
    (downmixed to mono); 24-bit and compressed formats raise
    informatively — that's ffmpeg territory."""
    import io
    import wave

    if blob is None:
        return np.zeros(64, dtype=np.float32)
    with wave.open(io.BytesIO(blob)) as w:
        n, ch, sw = w.getnframes(), w.getnchannels(), w.getsampwidth()
        raw = w.readframes(n)
    if sw == 1:  # WAV 8-bit is UNSIGNED, offset-128
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
    else:
        raise NotImplementedError(
            f"{8 * sw}-bit PCM not supported by the stdlib decoder; "
            "register an ffmpeg-backed decoder for exotic widths"
        )
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    if x.size == 0:
        return np.zeros(64, dtype=np.float32)
    peak = np.abs(x).max()
    x = x / (peak if peak > 0 else 1.0)
    # time half: 32 RMS-energy envelope bins
    edges = np.linspace(0, x.size, 33).astype(int)
    env = np.array(
        [
            np.sqrt(np.mean(x[a:b] ** 2)) if b > a else 0.0
            for a, b in zip(edges[:-1], edges[1:])
        ]
    )
    # frequency half: 32 averaged log-magnitude bands of the full rFFT
    spec = np.abs(np.fft.rfft(x))
    sedges = np.linspace(0, spec.size, 33).astype(int)
    bands = np.array(
        [
            np.log1p(spec[a:b].mean()) if b > a else 0.0
            for a, b in zip(sedges[:-1], sedges[1:])
        ]
    )
    return np.concatenate([env, bands]).astype(np.float32)


MEDIA_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "deterministic-fake": _fake_decode,
    # gated at import: containers with PIL get a REAL image decoder under
    # the same registry key; without it the slot raises with instructions
    "real": _pil_decode if real_decoder_available() else _real_decode_unavailable,
    # REAL audio: stdlib-only, always available
    "wav": _wav_decode,
}


def with_media_meta(df: DataFrame, blob_col: str = "media", media_type: str = "image", fmt: str = "bin") -> DataFrame:
    """Attach the typed metadata struct (sizes derivable without decoding)."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(blob_col)).cast("long").alias("n_bytes"),
        ),
    )


def extract_media_features(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "media",
    decoder: str = "deterministic-fake",
) -> DataFrame:
    """(id, blob) → (id, feature: array<float>, feat_dim, content_sha) via
    mapInPandas. The decode callable is resolved DRIVER-side and travels in
    the closure (executor workers re-import this module and would only see
    the built-in registry entries, not dynamically registered decoders —
    the same rule model_client applies to embedding providers)."""
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("feature", ArrayType(FloatType())),
            StructField("feat_dim", IntegerType()),
            StructField("content_sha", StringType()),
        ]
    )

    decode = MEDIA_DECODERS[decoder]  # resolve driver-side (see docstring)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, dims, shas = [], [], []
            for blob in pdf[blob_col]:
                b = bytes(blob) if blob is not None else None
                vec = decode(b)
                feats.append([float(x) for x in vec])
                dims.append(len(vec))
                # NULL media gets a NULL sha: hashing it like b'' would
                # content-address a missing blob identically to a real
                # empty one while their features differ
                shas.append(
                    hashlib.sha256(b).hexdigest() if b is not None else None
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "feature": feats,
                    "feat_dim": dims,
                    "content_sha": shas,
                }
            )

    return df.select(id_col, blob_col).mapInPandas(_run, out_schema)


def frame_sample(
    df: DataFrame,
    id_col: str = "media_id",
    blob_col: str = "media",
    n_frames: int = 4,
    decoder: str = "deterministic-fake",
) -> DataFrame:
    """Video → n_frames rows per item: (id, frame_no, frame_feature).

    With the fake decoder, frame f's feature derives from sha256(blob ∥ f) —
    the explode shape, schema and partition behavior match a real
    frame-sampler exactly.
    """
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("frame_no", IntegerType()),
            StructField("frame_feature", ArrayType(FloatType())),
        ]
    )

    decode = MEDIA_DECODERS[decoder]  # resolve driver-side

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, feats = [], [], []
            for i, blob in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(blob) if blob is not None else b""
                for f in range(n_frames):
                    ids.append(i)
                    frames.append(f)
                    feats.append([float(x) for x in decode(b + bytes([f]))])
            yield pd.DataFrame({id_col: ids, "frame_no": frames, "frame_feature": feats})

    return df.select(id_col, blob_col).mapInPandas(_run, out_schema)
