"""Multimodal data model: payload BINARY + typed metadata struct.

At 100 TB the payload column dominates storage: keep it in its own Parquet
column (column pruning means metadata-only queries never touch bytes), write
with a small ``maxRecordsPerFile`` so a single row group stays memory-safe,
and partition by media_type so type-specific pipelines prune files.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),     # image | audio | video
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

MAGIC = b"FAKE"
_TYPES = ["image", "audio", "video"]
_CODECS = {"image": "fakejpeg", "audio": "fakepcm", "video": "fakeh264"}


def synth_payload(doc_id: int) -> bytes:
    """Deterministic fake media payload: FAKE | type_idx u8 | width u16 |
    height u16 | duration_ms u32 | body (md5-stream bytes). Parsed by
    udfs.decode_media_meta — the stand-in for a real codec header."""
    h = hashlib.md5(str(doc_id).encode()).digest()
    t = h[0] % 3
    width = 64 + h[1] % 192
    height = 64 + h[2] % 192
    duration = (h[3] % 120) * 1000 if t != 0 else 0
    body_len = 128 + h[4]
    body = (h * ((body_len // len(h)) + 1))[:body_len]
    return MAGIC + struct.pack("<BHHI", t, width, height, duration) + body


def media_type_of(doc_id: int) -> str:
    return _TYPES[hashlib.md5(str(doc_id).encode()).digest()[0] % 3]


def real_payload(doc_id: int) -> bytes:
    """Deterministic REAL media payload (arithmetically specified so a SQL
    oracle can verify the decode): even ids get a BI_RGB BMP whose pixel
    (y, x, c) = (id*7 + y*31 + x*13 + c*5) % 256 at width 4+id%5, height
    3+id%4; odd ids get a PCM WAV with 800+(id%7)*100 samples of
    ((id*11 + i*17) % 2048) - 1024 at 8 kHz. Encoded by the pure-Python
    codecs module, decoded back by udfs — a true encode->decode round trip
    over real file formats."""
    import numpy as np

    from . import codecs as C

    if doc_id % 2 == 0:
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        px = (doc_id * 7 + y * 31 + x * 13 + c * 5) % 256
        return C.encode_bmp(px.astype(np.uint8))
    n = 800 + (doc_id % 7) * 100
    i = np.arange(n)
    return C.encode_wav(((doc_id * 11 + i * 17) % 2048 - 1024).astype(np.int16))


def with_real_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic real BMP/WAV payload column keyed by id."""
    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: real_payload(int(i)))

    return df.withColumn("payload", gen(F.col(id_col)))


def real_payload_565(doc_id: int) -> bytes:
    """Deterministic 16-bit BI_BITFIELDS RGB565 BMP payload of the SAME
    arithmetic pixels real_payload uses for its even-id BMPs — 565
    quantization is a pure per-channel arithmetic map (R/B: top 5 bits
    expanded (v<<3)|(v>>2); G: top 6 expanded (v<<2)|(v>>4)), so a SQL
    oracle can recompute the decoded content sum exactly."""
    import numpy as np

    from . import codecs as C

    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    px = (doc_id * 7 + y * 31 + x * 13 + c * 5) % 256
    return C.encode_bmp_565(px.astype(np.uint8))


def with_real_media_565(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic RGB565 BI_BITFIELDS BMP payload column."""
    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: real_payload_565(int(i)))

    return df.withColumn("payload", gen(F.col(id_col)))


def real_payload_wav24(doc_id: int) -> bytes:
    """Deterministic PCM s24le WAV payload: the SAME arithmetic samples
    real_payload uses for its odd-id WAVs, scaled x4096 into the signed
    24-bit range. s24le is LOSSLESS, so a SQL oracle recomputes the decoded
    content sum exactly (4096 x the s16le sample sum)."""
    import numpy as np

    from . import codecs as C

    n = 800 + (doc_id % 7) * 100
    i = np.arange(n)
    s = ((doc_id * 11 + i * 17) % 2048 - 1024).astype(np.int32) * 4096
    return C.encode_wav_s24le(s, sample_rate=8000)


def with_real_media_wav24(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach the deterministic s24le WAV payload column keyed by id."""
    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: real_payload_wav24(int(i)))

    return df.withColumn("payload", gen(F.col(id_col)))


def with_synthetic_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic fake payload column (binary) keyed by id — the
    test harness for the multimodal pipeline (no real media in testdata)."""
    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_payload(int(i)))

    return df.withColumn("payload", gen(F.col(id_col)))
