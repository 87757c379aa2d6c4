"""Perceptual media fingerprints (image aHash, audio energy hash) + banded
near-dup pairs.

The media-side analog of the text dedup family:
* images — aHash (average hash, the standard public perceptual-hash
  baseline): downsample the decoded image to 8x8 grayscale, one bit per
  cell (1 = cell >= image mean). Stable under resizing and small noise.
* audio — energy signature: split the decoded waveform into 64 equal
  windows, one bit per window (1 = window RMS >= track mean RMS).
  Amplitude-scale invariant (both sides of the threshold scale together),
  stable under resampling.

Spark shape: each fingerprint is one Arrow-batched pandas_udf over the
payload column (decode happens once, signatures are 8 bytes/row from then
on); pair generation is the banded-equi-join discipline the SimHash tier
uses — split the 64 bits into (max_hamming + 1) bands; by pigeonhole, any
pair within the distance budget collides on at least one full band, so
candidates come from band-key equi-joins and the exact Hamming check prunes
the rest. No all-pairs at any scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import decode_image_pixels, decode_wav_samples, sniff

__all__ = [
    "ahash_bits",
    "ahash_udf",
    "image_dup_pairs",
    "audio_fingerprint_bits",
    "audio_fingerprint_udf",
    "audio_dup_pairs",
]

GRID = 8  # 8x8 -> 64-bit signature
AUDIO_WINDOWS = 64


def ahash_bits(raw: bytes) -> int:
    """64-bit average hash of a BMP payload (driver-side twin of the UDF).

    True aHash: each of the 8x8 grid cells is the MEAN of its pixel block
    (not a single sampled pixel — point sampling is far more sensitive to
    resampling/noise), thresholded against the grid mean."""
    px = decode_image_pixels(raw).astype(np.float64)
    gray = px.mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(GRID + 1) * h) // GRID
    xs = (np.arange(GRID + 1) * w) // GRID
    cells = np.empty((GRID, GRID))
    for i in range(GRID):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(GRID):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            # max() guards degenerate blocks on images smaller than the grid
            cells[i, j] = gray[min(y0, h - 1):y1, min(x0, w - 1):x1].mean()
    bits = (cells >= cells.mean()).flatten()
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    # two's-complement into signed int64 for the BIGINT column
    return out - (1 << 64) if out >= (1 << 63) else out


def ahash_udf(payload: Column) -> Column:
    """Arrow-batched aHash over a binary payload column; NULL for payloads
    that are not decodable images (audio/video/corrupt)."""

    @F.pandas_udf(T.LongType())
    def run(col: pd.Series) -> pd.Series:
        out = []
        for raw in col:
            try:
                b = bytes(raw)
                if sniff(b) != "bmp":
                    out.append(None)
                    continue
                out.append(ahash_bits(b))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    return run(payload)


def _band(sig: Column, i: int, n_bands: int) -> Column:
    width = 64 // n_bands
    shifted = F.shiftrightunsigned(sig, i * width)
    if width >= 64:
        # single-band case (max_hamming=0): the band IS the whole signature;
        # (1 << 64) - 1 would overflow a Java long literal
        return shifted
    return shifted.bitwiseAND(F.lit((1 << width) - 1).cast("long"))


def audio_fingerprint_bits(raw: bytes) -> int:
    """64-bit energy signature of a WAV payload (driver-side twin)."""
    samples = decode_wav_samples(raw).astype(np.float64)
    if samples.ndim == 2:  # stereo: fingerprint the downmix
        samples = samples.mean(axis=1)
    n = len(samples)
    if n == 0:
        return 0
    bounds = (np.arange(AUDIO_WINDOWS + 1) * n) // AUDIO_WINDOWS
    rms = np.array([
        np.sqrt(np.mean(samples[bounds[i]:max(bounds[i + 1], bounds[i] + 1)] ** 2))
        for i in range(AUDIO_WINDOWS)
    ])
    bits = rms >= rms.mean()
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out


def audio_fingerprint_udf(payload: Column) -> Column:
    """Arrow-batched audio energy fingerprint; NULL for non-WAV payloads."""

    @F.pandas_udf(T.LongType())
    def run(col: pd.Series) -> pd.Series:
        out = []
        for raw in col:
            try:
                b = bytes(raw)
                if sniff(b) != "wav":
                    out.append(None)
                    continue
                out.append(audio_fingerprint_bits(b))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    return run(payload)


def _banded_pairs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """(id_a, id_b, hamming) pairs over a (id, sig int64) relation — banded
    pigeonhole candidate generation (exact: a qualifying pair MUST agree on
    >= 1 of max_hamming+1 bands), then the exact popcount check. id_a <
    id_b, deduped across bands."""
    n_bands = max_hamming + 1
    if 64 % n_bands != 0:
        # round up to a divisor of 64 (bands only generate CANDIDATES; the
        # exact hamming filter keeps semantics regardless of band count)
        for nb in (4, 8, 16, 32):
            if nb >= n_bands:
                n_bands = nb
                break
    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"), _band(F.col("sig"), i, n_bands).alias("key")
                )
                for i in range(n_bands)
            ])
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def image_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Image near-dup pairs via aHash + banded Hamming (see _banded_pairs)."""
    sigs = df.select(
        F.col(id_col).alias("id"), ahash_udf(F.col(payload_col)).alias("sig")
    ).filter(F.col("sig").isNotNull())
    return _banded_pairs(sigs, max_hamming)


def audio_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Audio near-dup pairs via the energy fingerprint + banded Hamming."""
    sigs = df.select(
        F.col(id_col).alias("id"),
        audio_fingerprint_udf(F.col(payload_col)).alias("sig"),
    ).filter(F.col("sig").isNotNull())
    return _banded_pairs(sigs, max_hamming)
