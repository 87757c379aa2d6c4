"""Multimodal column plumbing (task brief: image/audio/video as opaque
``binary`` columns with typed metadata; decode/feature-extract as Pandas UDFs
over ``mapInPandas``).

Uncompressed BMP and PCM WAV are decoded FOR REAL by the pure-Python codecs
module (headers, pixels, samples — no external libs); the deterministic fake
payload covers the remaining media types, and compressed formats (JPEG,
H.264/AAC) raise NotImplementedError at the clearly marked seam where
PIL/ffmpeg would plug in.
"""

from .columns import (
    MEDIA_META_SCHEMA,
    with_real_media,
    with_real_media_565,
    with_real_media_wav24,
    with_synthetic_media,
)
from .udfs import (
    content_stats,
    decode_media_meta,
    extract_features,
    resize_images,
    sample_frames,
)

__all__ = [
    "MEDIA_META_SCHEMA",
    "with_real_media",
    "with_real_media_565",
    "with_real_media_wav24",
    "with_synthetic_media",
    "content_stats",
    "decode_media_meta",
    "extract_features",
    "resize_images",
    "sample_frames",
]
