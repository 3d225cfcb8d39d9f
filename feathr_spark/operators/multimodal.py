"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing is real and tested: schemas, partition-parallel
``mapInPandas`` with Arrow batches, typed metadata structs, frame-sampling
row expansion. Codecs are injectable callables; two REAL pure-Python
decoders ship for the uncompressed public formats —
:func:`wav_audio_decoder` (RIFF/WAVE PCM) and :func:`ppm_image_decoder`
(netpbm P5/P6) — exercising true bytes → metadata/features end-to-end.
Compressed formats (jpeg/mp3/mp4) still need an injected library decoder
because media libraries (PIL/ffmpeg/torchaudio) are not in this
container; the md5-derived fakes remain as deterministic,
oracle-reproducible test doubles.

Design for 100 TB: binary payloads stay in their partitions (no shuffle in
decode/featurize paths); batch size is Arrow-controlled; metadata-only
operations (filtering by width/duration) never touch the payload column
thanks to parquet column pruning.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

IMAGE_META = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("format", StringType()),
])

AUDIO_META = StructType([
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("channels", IntegerType()),
    StructField("format", StringType()),
])

VIDEO_META = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("fps", FloatType()),
    StructField("format", StringType()),
])


def fake_image_decoder(payload: bytes) -> dict:
    """Deterministic stand-in for an image codec: derives metadata and a
    16-dim feature vector from a 60-bit md5 prefix of the bytes — the same
    ``portable_hash64`` scheme as dedup, so an independent SQL engine can
    reproduce every derived value (``('0x'||substr(md5(x),1,15))::BIGINT``
    in DuckDB). Real deployments pass e.g. a PIL-based decoder with the
    same signature."""
    if payload is None:
        return {"width": None, "height": None, "channels": None,
                "format": None, "features": None}
    import hashlib
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return {
        "width": 16 + h % 1024,
        "height": 16 + (h // 1024) % 1024,
        "channels": 3,
        "format": "fake",
        "features": [float((h >> (i * 2)) & 0xFF) / 255.0 for i in range(16)],
    }


def fake_audio_decoder(payload: bytes) -> dict:
    """Deterministic stand-in for an audio codec (same portable md5-prefix
    scheme as :func:`fake_image_decoder`, different field derivations):
    sample_rate ∈ {8,16,24,32,40,48} kHz, mono/stereo, and a bounded
    sample count — every value reproducible in any md5-capable engine."""
    if payload is None:
        return {"sample_rate": None, "n_samples": None, "channels": None,
                "format": None, "features": None}
    import hashlib
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return {
        "sample_rate": 8000 * (1 + h % 6),
        "n_samples": 1000 + (h // 6) % 1000000,
        "channels": 1 + (h // 7) % 2,
        "format": "fake",
        "features": [float((h >> (i * 3)) & 0x7F) / 127.0 for i in range(16)],
    }


def unavailable_decoder(payload: bytes) -> dict:
    raise NotImplementedError(
        "media codecs are not installed in this environment; supply a real "
        "decoder callable (bytes -> dict) to decode_images/decode_audio")


# ----------------------------------------------------------------------
# Real pure-Python codecs (no media libraries needed): uncompressed
# container formats parsed straight from their public specs. These run
# the decode contract on TRUE bytes end-to-end — the md5 fakes above are
# test doubles; compressed formats (jpeg/mp3/...) still need an injected
# library decoder.
# ----------------------------------------------------------------------

def wav_audio_decoder(payload: bytes) -> dict:
    """Real WAV decoder: RIFF/WAVE container + PCM samples (the
    canonical public format spec: RIFF chunks, ``fmt `` with
    format/channels/rate/bits, ``data`` with interleaved frames).

    Metadata comes from the fmt chunk; features are 16 real signal
    statistics — per-segment RMS energy of the mono mix over 16 equal
    time windows, full-scale-normalized to [0, 1]. Supports PCM
    (format 1) at 8 (unsigned), 16, and 32 (signed little-endian) bits.
    Malformed payloads raise ``ValueError`` (wrap with
    :func:`tolerant_decoder` for poison-row-safe pipelines).
    """
    if payload is None:
        return {"sample_rate": None, "n_samples": None, "channels": None,
                "format": None, "features": None}
    import struct

    import numpy as np
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)          # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0)
    if audio_fmt != 1:
        raise ValueError(f"unsupported WAV format code {audio_fmt} "
                         "(only PCM=1)")
    if bits not in (8, 16, 32) or channels < 1 or rate < 1:
        raise ValueError(f"unsupported PCM layout: {bits}-bit "
                         f"x{channels} @ {rate}")
    frame = channels * (bits // 8)
    n_samples = len(data) // frame
    data = data[:n_samples * frame]
    if bits == 8:                              # unsigned by spec
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    mono = x.reshape(n_samples, channels).mean(axis=1) \
        if n_samples else np.zeros(0)
    feats = []
    for seg in np.array_split(mono, 16):
        feats.append(float(np.sqrt(np.mean(seg * seg)))
                     if seg.size else 0.0)
    return {"sample_rate": int(rate), "n_samples": int(n_samples),
            "channels": int(channels), "format": f"wav/pcm{bits}",
            "features": feats}


def ppm_image_decoder(payload: bytes) -> dict:
    """Real PNM decoder: binary PPM (``P6``, RGB) and PGM (``P5``,
    grayscale) — header tokens (width, height, maxval; ``#`` comments
    allowed) then raw big-endian samples, per the public netpbm spec.

    Features are 16 real pixel statistics: mean luminance (plain
    channel average, maxval-normalized to [0, 1]) over a 4x4 spatial
    grid. Malformed payloads raise ``ValueError``.
    """
    if payload is None:
        return {"width": None, "height": None, "channels": None,
                "format": None, "features": None}
    import numpy as np
    b = bytes(payload)
    if len(b) < 2 or b[0:1] != b"P" or b[1:2] not in b"56":
        raise ValueError("not a binary PPM/PGM payload")
    channels = 3 if b[1:2] == b"6" else 1
    # header tokenizer: whitespace-separated ints, '#' to EOL is comment
    pos, toks = 2, []
    while len(toks) < 3:
        if pos >= len(b):
            raise ValueError("truncated PNM header")
        c = b[pos:pos + 1]
        if c == b"#":
            nl = b.find(b"\n", pos)
            pos = len(b) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(b) and not b[end:end + 1].isspace() \
                    and b[end:end + 1] != b"#":
                end += 1
            tok = b[pos:end]
            if not tok.isdigit():
                raise ValueError(f"bad PNM header token {tok!r}")
            toks.append(int(tok))
            pos = end
    width, height, maxval = toks
    if not (0 < maxval < 65536) or width < 1 or height < 1:
        raise ValueError("bad PNM dimensions/maxval")
    pos += 1                                   # single whitespace after maxval
    bytes_per = 1 if maxval < 256 else 2
    need = width * height * channels * bytes_per
    raster = b[pos:pos + need]
    if len(raster) < need:
        raise ValueError("truncated PNM raster")
    dt = np.uint8 if bytes_per == 1 else ">u2"
    px = (np.frombuffer(raster, dtype=dt)
          .reshape(height, width, channels).astype(np.float64) / maxval)
    lum = px.mean(axis=2)
    feats = []
    for rows in np.array_split(lum, 4, axis=0):
        for cell in np.array_split(rows, 4, axis=1):
            feats.append(float(cell.mean()) if cell.size else 0.0)
    return {"width": int(width), "height": int(height),
            "channels": int(channels),
            "format": "ppm" if channels == 3 else "pgm",
            "features": feats}


def tolerant_decoder(decoder: Callable[[bytes], dict],
                     meta_fields: tuple) -> Callable[[bytes], dict]:
    """Poison-row containment for 100 TB runs: wrap any decoder so a
    corrupt payload yields a NULL-fielded row (with ``format`` set to
    ``"error:<reason>"`` for triage) instead of failing the task — one
    bad blob in a billion must not kill the job."""
    def run(payload):
        try:
            return decoder(payload)
        except NotImplementedError:
            raise
        except Exception as e:                 # noqa: BLE001 — contain
            d = {k: None for k in meta_fields}
            d["format"] = f"error:{type(e).__name__}"
            d["features"] = None
            return d
    return run


def decode_images(
    df: DataFrame,
    binary_col: str = "payload",
    decoder: Callable[[bytes], dict] = fake_image_decoder,
    feature_dim: int = 16,
) -> DataFrame:
    """Decode/feature-extract image binaries partition-parallel.

    Adds ``meta`` (IMAGE_META struct) + ``features array<float>`` columns.
    Runs as ``mapInPandas`` — Arrow-batched, zero shuffle, preserves all
    input columns.
    """
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("meta", IMAGE_META), StructField("features", ArrayType(FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, feats = [], []
            for payload in pdf[binary_col]:
                d = decoder(bytes(payload) if payload is not None else None)
                metas.append({k: d.get(k) for k in
                              ("width", "height", "channels", "format")})
                feats.append(d.get("features"))
            pdf = pdf.copy()
            pdf["meta"] = metas
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def decode_audio(
    df: DataFrame,
    binary_col: str = "payload",
    decoder: Callable[[bytes], dict] = fake_audio_decoder,
) -> DataFrame:
    """Decode/feature-extract audio binaries partition-parallel: adds
    ``meta`` (AUDIO_META struct, incl. derived duration) + ``features``.
    Same Arrow-batched zero-shuffle shape as :func:`decode_images`."""
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("meta", AUDIO_META),
           StructField("features", ArrayType(FloatType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, feats = [], []
            for payload in pdf[binary_col]:
                d = decoder(bytes(payload) if payload is not None else None)
                metas.append({k: d.get(k) for k in
                              ("sample_rate", "n_samples", "channels",
                               "format")})
                feats.append(d.get("features"))
            pdf = pdf.copy()
            pdf["meta"] = metas
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def sample_frames(df: DataFrame, n_frames_col: str = "n_frames",
                  every: int = 30) -> DataFrame:
    """Frame-sampling row expansion: one output row per sampled frame index
    (builtin sequence+explode — the decode of each frame is then a
    per-row decoder call). No payload duplication until decode time."""
    return df.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)),
                             F.lit(every))))
