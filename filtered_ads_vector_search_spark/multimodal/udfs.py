"""Multimodal decode / feature-extract / frame-sample UDFs.

All three are Arrow-batched ``mapInPandas`` transforms — the payload bytes
stay inside the executor, batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``, and the output schema is
explicit so downstream operators are fully declarative.

Real codecs: uncompressed BMP and PCM WAV payloads are decoded for real by
the pure-Python codecs module (no external libs). The deterministic fake
header from columns.synth_payload remains the stand-in for everything else;
compressed formats (JPEG, H.264/...) raise NotImplementedError at the clearly
marked seam — PIL/ffmpeg would plug in there.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codecs as C
from .columns import MAGIC, _TYPES, _CODECS

FEATURE_DIM = 16


def _parse_header(raw: bytes) -> dict:
    if raw[:4] != MAGIC:
        kind = C.sniff(raw)
        if kind == "bmp":
            return C.decode_bmp_meta(raw)
        if kind == "wav":
            return C.decode_wav_meta(raw)
        # ---- real-codec seam: plug PIL/ffmpeg probing here for formats
        # ---- beyond BMP / PCM WAV ----
        raise NotImplementedError(
            "compressed media decoding requires image/audio libs that are "
            "not installed; payload is neither FAKE, BMP, nor WAV"
        )
    t, width, height, duration = struct.unpack("<BHHI", raw[4:13])
    media_type = _TYPES[t]
    return {
        "media_type": media_type,
        "codec": _CODECS[media_type],
        "width": int(width),
        "height": int(height),
        "duration_ms": int(duration),
        "n_bytes": len(raw),
    }


def decode_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(id cols..., payload) -> + media metadata struct fields."""
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    schema = (
        f"{fields}, media_type string, codec string, width int, height int, "
        "duration_ms int, n_bytes bigint"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = pdf[payload_col].map(lambda b: _parse_header(bytes(b)))
            out = pdf.copy()
            for k in ("media_type", "codec", "width", "height", "duration_ms", "n_bytes"):
                out[k] = metas.map(lambda m, k=k: m[k])
            yield out

    return df.mapInPandas(run, schema=schema)


def extract_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Payload -> fixed-dim feature vector (deterministic md5-seeded stand-in
    for a CNN/audio embedding; same signature/batching as the real thing).
    Output: all input cols minus payload, + features array<float>."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
    schema = f"{fields}, features array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[payload_col].map(
                lambda b: np.random.RandomState(
                    int.from_bytes(hashlib.md5(bytes(b)).digest()[:4], "little")
                )
                .standard_normal(FEATURE_DIM)
                .astype(np.float32)
            )
            out = pdf.drop(columns=[payload_col])
            out["features"] = feats
            yield out

    return df.mapInPandas(run, schema=schema)


def resize_images(
    df: DataFrame, width: int, height: int, payload_col: str = "payload"
) -> DataFrame:
    """Image resize: rewrite the payload with the target dimensions (body
    re-derived deterministically from the original bytes + dims at the
    clearly-marked real-codec seam); audio/video rows pass through
    unchanged. Output schema == input schema, so resizes compose with
    decode/feature/frame stages."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def resize_one(raw: bytes) -> bytes:
            meta = _parse_header(raw)
            if meta["media_type"] != "image":
                return raw
            if meta["codec"] == "bmp":
                return C.resize_image(raw, width, height)  # real resample
            t, _, _, duration = struct.unpack("<BHHI", raw[4:13])
            # ---- real-codec seam: plug PIL resampling here for formats
            # ---- beyond BMP; the fake path just rewrites
            # ---- header + body hash ----
            body = hashlib.md5(raw[13:] + struct.pack("<HH", width, height)).digest()
            return MAGIC + struct.pack("<BHHI", t, width, height, duration) + body

        for pdf in batches:
            out = pdf.copy()
            out[payload_col] = out[payload_col].map(lambda b: resize_one(bytes(b)))
            yield out

    return df.mapInPandas(run, schema=fields)


def content_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode the payload CONTENT (not just headers) and emit a checksum:
    sum of all RGB pixel values for BMP, sum of all samples for WAV, sum of
    body bytes for FAKE payloads. This is the value-level proof that the
    decoder reads real bytes correctly — the registry query
    `multimodal_decode` checks it against an arithmetic DuckDB oracle.
    Output: input cols minus payload, + content_sum bigint."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
    schema = f"{fields}, content_sum bigint"

    def checksum(raw: bytes) -> int:
        kind = C.sniff(raw)
        if kind == "bmp":
            return int(C.decode_bmp_pixels(raw).astype(np.int64).sum())
        if kind == "wav":
            return int(C.decode_wav_samples(raw).astype(np.int64).sum())
        _parse_header(raw)  # FAKE (or raises the seam error)
        return int(np.frombuffer(raw[13:], dtype=np.uint8).astype(np.int64).sum())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.drop(columns=[payload_col])
            out["content_sum"] = pdf[payload_col].map(lambda b: checksum(bytes(b)))
            yield out

    return df.mapInPandas(run, schema=schema)


def sample_frames(
    df: DataFrame, every_ms: int = 1000, payload_col: str = "payload"
) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp (explode on
    the executor, bounded by duration). Non-video rows pass through with a
    single frame at t=0. Output: id cols + frame_ts_ms + frame_bytes."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
    schema = f"{fields}, frame_ts_ms int, frame_bytes binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    columns=[f.name for f in keep] + ["frame_ts_ms", "frame_bytes"]
                )
                continue
            metas = [_parse_header(bytes(b)) for b in pdf[payload_col]]
            # frames per input row: ceil(duration/every) for video, else 1
            n_frames = np.array(
                [
                    -(-m["duration_ms"] // every_ms)
                    if m["media_type"] == "video" and m["duration_ms"] > 0
                    else 1
                    for m in metas
                ],
                dtype=np.int64,
            )
            # expand rows with np.repeat; per-frame timestamp = position within
            # each row's run of output rows, times the stride
            idx = np.repeat(np.arange(len(pdf)), n_frames)
            total = int(n_frames.sum())
            starts = np.cumsum(n_frames) - n_frames
            frame_ts = (np.arange(total) - np.repeat(starts, n_frames)) * every_ms
            out = pdf.drop(columns=[payload_col]).iloc[idx].reset_index(drop=True)
            out["frame_ts_ms"] = frame_ts.astype(np.int32)
            payloads = pdf[payload_col].to_numpy()[idx]
            # ---- real-codec seam: extract the actual frame here ----
            out["frame_bytes"] = [
                hashlib.md5(bytes(p) + str(int(t)).encode()).digest()
                for p, t in zip(payloads, frame_ts)
            ]
            yield out

    return df.mapInPandas(run, schema=schema)
