"""Minimal pure-Python real-media codecs: BMP and PCM WAV.

This makes the real-codec seam in udfs._parse_header exercisable without any
external image/audio library: BI_RGB 8-bit-palette, 16-bit RGB555, 24-bit, and 32-bit BGRA
BMP plus 16/32-bit BI_BITFIELDS (contiguous masks, e.g. RGB565; info
headers V1-V5), and RIFF/WAVE PCM s16le/s24le + G.711 A-law/mu-law + IMA
ADPCM mono/stereo, are simple enough to encode/decode with struct + numpy.
Compressed codecs (JPEG, H.264/AAC, RLE4 BMP, MS-ADPCM WAV) stay behind
the NotImplementedError seam (8-bit BI_RLE8 graduated to a supported
lossless mode in round 9).

The reference has no media pipeline at all — this is part of the
beyond-reference training-data-pipeline surface (brief: multimodal columns).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "encode_bmp",
    "encode_bmp_8bit",
    "encode_bmp_16bit",
    "encode_bmp_32bit",
    "encode_bmp_565",
    "decode_bmp_meta",
    "decode_bmp_pixels",
    "resize_bmp",
    "encode_wav",
    "encode_wav_s24le",
    "encode_wav_mulaw",
    "encode_wav_alaw",
    "encode_wav_ima_adpcm",
    "mulaw_encode",
    "mulaw_decode",
    "alaw_encode",
    "alaw_decode",
    "decode_wav_meta",
    "decode_wav_samples",
    "decode_image_pixels",
    "resize_image",
    "sniff",
]

_BMP_HEADER_SIZE = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)
_WAV_HEADER_SIZE = 44  # RIFF + fmt(16) + data chunk headers


def _row_size(width: int) -> int:
    return ((3 * width + 3) // 4) * 4  # rows padded to 4-byte boundaries


def sniff(raw: bytes) -> str | None:
    """'bmp' | 'wav' | None for unrecognized payloads."""
    if raw[:2] == b"BM":
        return "bmp"
    if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        return "wav"
    return None


def decode_image_pixels(raw: bytes) -> np.ndarray:
    """Any supported image payload -> (height, width, 3) uint8 RGB."""
    kind = sniff(raw)
    if kind == "bmp":
        return decode_bmp_pixels(raw)
    raise ValueError(f"not a decodable image payload (sniffed {kind!r})")


def resize_image(raw: bytes, width: int, height: int) -> bytes:
    """Codec-preserving resize: a BMP payload is resampled and stays BMP."""
    kind = sniff(raw)
    if kind == "bmp":
        return resize_bmp(raw, width, height)
    raise ValueError(f"not a resizable image payload (sniffed {kind!r})")


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(height, width, 3) uint8 RGB -> BI_RGB 24-bit BMP bytes (rows stored
    bottom-up, channels as BGR, rows padded to 4 bytes, per the format)."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"expected (h, w, 3) RGB pixels, got {pixels.shape}")
    row = _row_size(w)
    size = _BMP_HEADER_SIZE + row * h
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HEADER_SIZE)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 2835, 2835, 0, 0)
    bgr = pixels[::-1, :, ::-1]  # bottom-up rows, BGR channels
    pad = row - 3 * w
    for r in bgr:
        out += r.tobytes() + b"\x00" * pad
    return bytes(out)


def encode_bmp_8bit(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """(height, width) uint8 palette indices + (n<=256, 3) uint8 RGB palette
    -> 8-bit BI_RGB BMP bytes (BGRx palette after the info header, bottom-up
    index rows padded to 4 bytes — the classic paletted layout)."""
    h, w = indices.shape
    n_pal = palette.shape[0]
    # explicit raises, not asserts: under `python -O` a stripped assert
    # would emit a corrupt BMP (indices past biClrUsed) that fails later
    if palette.ndim != 2 or palette.shape[1] != 3 or n_pal > 256:
        raise ValueError(f"palette must be (n<=256, 3) uint8 RGB, got {palette.shape}")
    if int(indices.max(initial=0)) >= n_pal:
        raise ValueError(
            f"palette index {int(indices.max(initial=0))} out of range for "
            f"{n_pal}-entry palette"
        )
    row = ((w + 3) // 4) * 4
    pal_bytes = np.zeros((n_pal, 4), dtype=np.uint8)
    pal_bytes[:, :3] = palette[:, ::-1]  # RGB -> BGRx
    offset = _BMP_HEADER_SIZE + 4 * n_pal
    size = offset + row * h
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    # biClrUsed (the 9th I-field) carries the palette entry count
    out += struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, row * h, 2835, 2835, n_pal, 0
    )
    out += pal_bytes.tobytes()
    pad = row - w
    for r in indices[::-1]:  # bottom-up rows
        out += r.astype(np.uint8).tobytes() + b"\x00" * pad
    return bytes(out)


def encode_bmp_rle8(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """(height, width) uint8 palette indices + (n<=256, 3) uint8 RGB palette
    -> 8-bit BI_RLE8 BMP bytes — the run-length-encoded paletted layout
    (Windows BMP spec: encoded mode = (count, index) pairs with count 1-255;
    escapes 00 00 = end of line, 00 01 = end of bitmap). The greedy
    (count, index) encoding here is always spec-valid and LOSSLESS on the
    index raster; decode_bmp_pixels additionally accepts the absolute-mode
    and delta escapes real encoders emit."""
    h, w = indices.shape
    n_pal = palette.shape[0]
    if palette.ndim != 2 or palette.shape[1] != 3 or n_pal > 256:
        raise ValueError(f"palette must be (n<=256, 3) uint8 RGB, got {palette.shape}")
    if int(indices.max(initial=0)) >= n_pal:
        raise ValueError(
            f"palette index {int(indices.max(initial=0))} out of range for "
            f"{n_pal}-entry palette"
        )
    data = bytearray()
    for r in indices[::-1]:  # bottom-up rows, like every BI_RGB layout here
        r = r.astype(np.uint8)
        i = 0
        while i < w:
            j = i + 1
            while j < w and j - i < 255 and r[j] == r[i]:
                j += 1
            data += bytes((j - i, int(r[i])))
            i = j
        data += b"\x00\x00"  # end of line
    data += b"\x00\x01"  # end of bitmap
    pal_bytes = np.zeros((n_pal, 4), dtype=np.uint8)
    pal_bytes[:, :3] = palette[:, ::-1]  # RGB -> BGRx
    offset = _BMP_HEADER_SIZE + 4 * n_pal
    size = offset + len(data)
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    # compression=1 (BI_RLE8); biSizeImage MUST carry the encoded length
    out += struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(data), 2835, 2835, n_pal, 0
    )
    out += pal_bytes.tobytes()
    out += data
    return bytes(out)


def encode_bmp_rle4(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """(height, width) uint8 palette indices (< 16) + (n<=16, 3) uint8 RGB
    palette -> 4-bit BI_RLE4 BMP bytes. RLE4 encoded mode packs TWO
    alternating nibble values per run byte (count counts PIXELS, the color
    byte's high/low nibbles alternate across the run); the greedy
    single-index encoder here emits (count, idx<<4|idx) — spec-valid and
    lossless — while the decoder additionally honors genuinely alternating
    runs, absolute mode (nibble-packed, word-aligned), delta, and the
    EOL/EOB escapes."""
    h, w = indices.shape
    n_pal = palette.shape[0]
    if palette.ndim != 2 or palette.shape[1] != 3 or n_pal > 16:
        raise ValueError(f"palette must be (n<=16, 3) uint8 RGB, got {palette.shape}")
    if int(indices.max(initial=0)) >= n_pal:
        raise ValueError(
            f"palette index {int(indices.max(initial=0))} out of range for "
            f"{n_pal}-entry palette"
        )
    data = bytearray()
    for r in indices[::-1]:  # bottom-up rows
        r = r.astype(np.uint8)
        i = 0
        while i < w:
            j = i + 1
            while j < w and j - i < 255 and r[j] == r[i]:
                j += 1
            v = int(r[i])
            data += bytes((j - i, (v << 4) | v))
            i = j
        data += b"\x00\x00"  # end of line
    data += b"\x00\x01"  # end of bitmap
    pal_bytes = np.zeros((n_pal, 4), dtype=np.uint8)
    pal_bytes[:, :3] = palette[:, ::-1]  # RGB -> BGRx
    offset = _BMP_HEADER_SIZE + 4 * n_pal
    size = offset + len(data)
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    # compression=2 (BI_RLE4); biSizeImage carries the encoded length
    out += struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(data), 2835, 2835, n_pal, 0
    )
    out += pal_bytes.tobytes()
    out += data
    return bytes(out)


def _decode_rle4_indices(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE4 escape stream -> (h, w) BOTTOM-UP index raster. Same four
    spec forms as RLE8 with nibble payloads: encoded runs ALTERNATE the
    color byte's high/low nibbles across the run; absolute mode carries n
    raw nibbles packed two per byte, the byte count padded to a word
    boundary. Cursor guards mirror _decode_rle8_indices (skipped pixels
    stay 0; off-raster writes are skipped, the cursor still advances)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # encoded run: c pixels alternating hi/lo nibble of v
            if y < h and x < w:
                end = min(x + c, w)
                pair = np.array([v >> 4, v & 0x0F], dtype=np.uint8)
                out[y, x:end] = np.resize(pair, end - x)
            x = min(x + c, w)
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if i + 1 >= n:
                raise ValueError("truncated RLE4 delta escape")
            x, y = x + data[i], y + data[i + 1]
            i += 2
        else:  # absolute mode: v raw nibbles, byte count word-aligned
            nbytes = (v + 1) // 2
            if i + nbytes > n:
                raise ValueError("truncated RLE4 absolute run")
            packed = np.frombuffer(data, dtype=np.uint8, offset=i, count=nbytes)
            nibs = np.empty(2 * nbytes, dtype=np.uint8)
            nibs[0::2] = packed >> 4
            nibs[1::2] = packed & 0x0F
            if y < h and x < w:
                end = min(x + v, w)
                out[y, x:end] = nibs[: end - x]
            x = min(x + v, w)
            i += nbytes + (nbytes & 1)
    return out


def _decode_rle8_indices(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8 escape stream -> (h, w) BOTTOM-UP index raster. Handles all
    four spec forms: encoded (count, index) runs, absolute mode
    (00, n>=3, n raw indices, word-aligned), end-of-line (00 00), delta
    (00 02, dx, dy), end-of-bitmap (00 01). Unwritten cells stay 0 (the
    spec leaves skipped pixels undefined; zero is the conventional fill)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0  # bottom-up coordinates, per the spec
    i = 0
    n = len(data)
    while i + 1 < n:
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # encoded run
            end = min(x + c, w)
            if y < h:
                out[y, x:end] = v
            x = end
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if i + 1 >= n:
                raise ValueError("truncated RLE8 delta escape")
            x, y = x + data[i], y + data[i + 1]
            i += 2
        else:  # absolute mode: v raw indices, padded to a word boundary
            if i + v > n:
                raise ValueError("truncated RLE8 absolute run")
            run = np.frombuffer(data, dtype=np.uint8, offset=i, count=v)
            # a delta escape can park the cursor past the row width; the
            # write slice is then empty while run[:end-x] is not (negative
            # stop), so guard x < w explicitly — skip the write but still
            # advance the cursor, per the spec's undefined-pixel semantics
            if y < h and x < w:
                end = min(x + v, w)
                out[y, x:end] = run[: end - x]
            x = min(x + v, w)  # same at-width clamp as the encoded-run path
            i += v + (v & 1)
    return out


def encode_bmp_32bit(pixels: np.ndarray, alpha: np.ndarray | None = None) -> bytes:
    """(height, width, 3) uint8 RGB (+ optional (h, w) alpha) -> 32-bit
    BI_RGB BMP bytes (BGRA byte order, bottom-up rows; 4 bytes/pixel means
    rows are always 4-byte aligned, no padding). The classic X8R8G8B8 /
    A8R8G8B8 layout screenshots and editors emit."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"expected (h, w, 3) RGB pixels, got {pixels.shape}")
    if alpha is not None and alpha.shape != (h, w):
        raise ValueError(f"alpha must be (h, w), got {alpha.shape}")
    bgra = np.empty((h, w, 4), dtype=np.uint8)
    bgra[:, :, :3] = pixels[:, :, ::-1]
    bgra[:, :, 3] = alpha if alpha is not None else 0
    size = _BMP_HEADER_SIZE + 4 * w * h
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HEADER_SIZE)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, 4 * w * h, 2835, 2835, 0, 0)
    out += bgra[::-1].tobytes()  # bottom-up rows
    return bytes(out)


def encode_bmp_16bit(pixels: np.ndarray) -> bytes:
    """(height, width, 3) uint8 RGB -> 16-bit BI_RGB BMP bytes (RGB555 —
    the bpp=16 default when no BI_BITFIELDS masks are present; rows of
    little-endian uint16 padded to 4 bytes, bottom-up). Channels quantize
    to their top 5 bits."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"expected (h, w, 3) RGB pixels, got {pixels.shape}")
    p16 = pixels.astype(np.uint16) >> 3
    packed = (p16[:, :, 0] << 10) | (p16[:, :, 1] << 5) | p16[:, :, 2]
    row = ((2 * w + 3) // 4) * 4
    size = _BMP_HEADER_SIZE + row * h
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HEADER_SIZE)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 16, 0, row * h, 2835, 2835, 0, 0)
    pad = row - 2 * w
    for r in packed[::-1]:  # bottom-up rows
        out += r.astype("<u2").tobytes() + b"\x00" * pad
    return bytes(out)


def encode_bmp_565(pixels: np.ndarray) -> bytes:
    """(height, width, 3) uint8 RGB -> 16-bit BI_BITFIELDS RGB565 BMP bytes
    — the dominant real-world 16-bit layout (masks F800/07E0/001F written
    after the 40-byte info header, per the BITMAPINFOHEADER spec). R/B
    quantize to their top 5 bits, G to its top 6."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"expected (h, w, 3) RGB pixels, got {pixels.shape}")
    p = pixels.astype(np.uint16)
    packed = ((p[:, :, 0] >> 3) << 11) | ((p[:, :, 1] >> 2) << 5) | (p[:, :, 2] >> 3)
    row = ((2 * w + 3) // 4) * 4
    data_off = _BMP_HEADER_SIZE + 12  # three DWORD masks follow the header
    size = data_off + row * h
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    out += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 16, 3, row * h, 2835, 2835, 0, 0)
    out += struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    pad = row - 2 * w
    for r in packed[::-1]:  # bottom-up rows
        out += r.astype("<u2").tobytes() + b"\x00" * pad
    return bytes(out)


def decode_bmp_meta(raw: bytes) -> dict:
    magic, size, _, _, offset = struct.unpack("<2sIHHI", raw[:14])
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    hdr_sz, w, h, _planes, bpp = struct.unpack("<IiiHH", raw[14:30])
    compression = struct.unpack("<I", raw[30:34])[0]
    supported = (
        (bpp in (4, 8, 16, 24, 32) and compression == 0)
        or (bpp in (16, 32) and compression == 3)  # BI_BITFIELDS, masked
        or (bpp == 8 and compression == 1)  # BI_RLE8
        or (bpp == 4 and compression == 2)  # BI_RLE4
    )
    # 40 = BITMAPINFOHEADER; 52/56/108/124 = V2/V3/V4/V5, which embed the
    # channel masks at the same file offset (54) the hdr_sz=40 BI_BITFIELDS
    # form appends them, so the mask-decode path is shared
    if not supported or hdr_sz not in (40, 52, 56, 108, 124):
        raise NotImplementedError(
            f"only BI_RGB 4/8-bit-palette, 16-bit RGB555, 24-bit, and 32-bit "
            f"BGRA BMP plus 16/32-bit BI_BITFIELDS (info headers V1-V5), "
            f"8-bit BI_RLE8, and 4-bit BI_RLE4 supported (bpp={bpp}, "
            f"compression={compression}, hdr_sz={hdr_sz}; 1-bit and PNG/JPEG "
            f"pass-through compressions still out of scope)"
        )
    return {
        "media_type": "image",
        "codec": "bmp",
        "width": int(w),
        "height": int(abs(h)),
        "duration_ms": 0,
        "n_bytes": len(raw),
    }


def _expand_channel_to_8(v: np.ndarray, width: int) -> np.ndarray:
    """n-bit channel value -> 8-bit by top-bit replication (the standard
    round-trip-exact expansion: quantizing the result back recovers v).
    For width 5 this is exactly the (v << 3) | (v >> 2) RGB555 expansion."""
    if width == 0:
        return np.zeros_like(v, dtype=np.uint8)
    if width >= 8:
        return (v >> (width - 8)).astype(np.uint8)
    res = v.astype(np.uint32) << (8 - width)
    shift = width
    while shift < 8:
        res |= res >> shift
        shift += width
    return res.astype(np.uint8)


def _mask_layout(mask: int) -> tuple[int, int]:
    """(shift, bit-width) of a contiguous BI_BITFIELDS channel mask."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    if (mask >> shift) != (1 << width) - 1:
        raise NotImplementedError(
            f"non-contiguous BI_BITFIELDS channel mask 0x{mask:x}"
        )
    return shift, width


def decode_bmp_pixels(raw: bytes) -> np.ndarray:
    """BMP bytes (8-bit palette, 16-bit RGB555, 24-bit BI_RGB, 32-bit BGRA,
    or 16/32-bit BI_BITFIELDS with contiguous masks) -> (h, w, 3) uint8 RGB
    (alpha is dropped — BI_RGB declares it unused and the masked form's
    alpha never reaches the RGB output; sub-8-bit channels expand by
    top-bit replication)."""
    meta = decode_bmp_meta(raw)
    w, h = meta["width"], meta["height"]
    bpp = struct.unpack("<H", raw[28:30])[0]
    offset = struct.unpack("<I", raw[10:14])[0]
    compression = struct.unpack("<I", raw[30:34])[0]
    if compression == 3:  # BI_BITFIELDS: masks follow the 40-byte header
        masks = struct.unpack("<III", raw[54:66])
        unit = bpp // 8
        row = ((unit * w + 3) // 4) * 4
        data = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=row * h)
        dt = "<u2" if bpp == 16 else "<u4"
        packed = data.reshape(h, row)[:, : unit * w].copy().view(dt).reshape(h, w)
        out = np.empty((h, w, 3), dtype=np.uint8)
        for ch, m in enumerate(masks):
            shift, width = _mask_layout(m)
            out[:, :, ch] = _expand_channel_to_8(
                (packed >> shift) & ((1 << max(width, 1)) - 1), width
            )
        return out[::-1].copy()  # back to top-down
    if bpp == 32:
        data = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=4 * w * h)
        rows = data.reshape(h, w, 4)[:, :, 2::-1]  # BGRA -> RGB, alpha dropped
        return rows[::-1].copy()  # back to top-down
    if bpp == 16:
        row = ((2 * w + 3) // 4) * 4
        data = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=row * h)
        packed = data.reshape(h, row)[:, : 2 * w].view("<u2").reshape(h, w)
        out = np.empty((h, w, 3), dtype=np.uint8)
        for ch, shift in enumerate((10, 5, 0)):  # RGB555
            v = (packed >> shift) & 0x1F
            # 5->8 bit expansion replicating the top bits (the standard
            # round-trip-exact expansion: (expand(v) >> 3) == v)
            out[:, :, ch] = ((v << 3) | (v >> 2)).astype(np.uint8)
        return out[::-1].copy()  # back to top-down
    if bpp in (4, 8):
        hdr_sz = struct.unpack("<I", raw[14:18])[0]
        n_pal = struct.unpack("<I", raw[46:50])[0] or (16 if bpp == 4 else 256)
        pal = (
            np.frombuffer(raw, dtype=np.uint8, offset=14 + hdr_sz,
                          count=4 * n_pal)
            .reshape(n_pal, 4)[:, [2, 1, 0]]  # BGRx -> RGB
        )
        if compression == 1:  # BI_RLE8
            idx = _decode_rle8_indices(raw[offset:], w, h)
            return pal[idx[::-1]].copy()  # bottom-up raster -> top-down
        if compression == 2:  # BI_RLE4
            idx = _decode_rle4_indices(raw[offset:], w, h)
            return pal[idx[::-1]].copy()
        if bpp == 4:  # uncompressed nibble-packed rows
            nbytes = (w + 1) // 2
            row = ((nbytes + 3) // 4) * 4
            data = np.frombuffer(raw, dtype=np.uint8, offset=offset,
                                 count=row * h).reshape(h, row)[:, :nbytes]
            nibs = np.empty((h, 2 * nbytes), dtype=np.uint8)
            nibs[:, 0::2] = data >> 4
            nibs[:, 1::2] = data & 0x0F
            return pal[nibs[:, :w][::-1]].copy()
        row = ((w + 3) // 4) * 4
        idx = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=row * h)
        idx = idx.reshape(h, row)[:, :w]
        return pal[idx[::-1]].copy()  # back to top-down, palette-expanded
    row = _row_size(w)
    data = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=row * h)
    rows = data.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # back to top-down RGB


def _nn_resample(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor index gather shared by every image resize path."""
    h0, w0, _ = px.shape
    ys = (np.arange(height) * h0 // height).clip(0, h0 - 1)
    xs = (np.arange(width) * w0 // width).clip(0, w0 - 1)
    return px[ys][:, xs]


def resize_bmp(raw: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resample — a real resize of real pixels."""
    return encode_bmp(_nn_resample(decode_bmp_pixels(raw), width, height))


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 samples -> RIFF/WAVE PCM s16le bytes. ``samples`` is (n,) for
    mono or (n, 2) for stereo — C-order tobytes() interleaves L/R frames,
    which IS the PCM stereo layout."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    data = samples.astype("<i2").tobytes()
    block_align = 2 * channels
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


def encode_wav_s24le(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int32 samples in the signed 24-bit range -> RIFF/WAVE PCM s24le
    bytes ((n,) mono or (n, 2) stereo, same shape contract as encode_wav).
    s24le is the standard studio-capture layout: three little-endian bytes
    per sample, frames interleaved — LOSSLESS, so decode(encode(x)) == x
    exactly (unlike the companded/ADPCM tiers)."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    x = samples.astype(np.int64)
    if x.size and (x.max() > 2**23 - 1 or x.min() < -(2**23)):
        raise ValueError("s24le samples must fit the signed 24-bit range")
    # three LE bytes per sample: drop the sign-extension byte of <i4
    quads = x.astype("<i4").reshape(-1).view(np.uint8).reshape(-1, 4)
    data = quads[:, :3].tobytes()
    block_align = 3 * channels
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
        sample_rate * block_align, block_align, 24,
    )
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


def encode_wav_float32(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """float samples (nominal [-1, 1]) -> RIFF/WAVE IEEE-float PCM bytes
    (WAVE_FORMAT_IEEE_FLOAT=3, 32-bit; (n,) mono or (n, 2) stereo). A fact
    chunk rides along, as the WAV spec requires for every non-PCM format
    category (float included)."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    data = samples.astype("<f4").tobytes()
    n_frames = samples.shape[0]
    block_align = 4 * channels
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 12 + 18 + 12 + 8 + len(data), b"WAVE")
    # fmt size 18: the non-PCM category carries cbSize (0 extra bytes here)
    out += struct.pack(
        "<4sIHHIIHHH", b"fmt ", 18, 3, channels, sample_rate,
        sample_rate * block_align, block_align, 32, 0,
    )
    out += struct.pack("<4sII", b"fact", 4, n_frames)
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


def encode_wav_extensible(
    samples: np.ndarray, sample_rate: int = 8000, bits: int = 16
) -> bytes:
    """int samples -> WAVE_FORMAT_EXTENSIBLE-wrapped integer PCM bytes
    (fmt_tag 0xFFFE, 40-byte fmt chunk: cbSize=22, wValidBitsPerSample,
    dwChannelMask, KS PCM SubFormat GUID) — the modern container editors
    emit for anything beyond plain stereo/16-bit. ``bits`` picks the
    payload layout: 16 (int16 samples) or 24 (int32 samples in the signed
    24-bit range, s24le bytes)."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    if bits == 16:
        data = samples.astype("<i2").tobytes()
    elif bits == 24:
        x = samples.astype(np.int64)
        if x.size and (x.max() > 2**23 - 1 or x.min() < -(2**23)):
            raise ValueError("s24le samples must fit the signed 24-bit range")
        data = x.astype("<i4").reshape(-1).view(np.uint8).reshape(-1, 4)[:, :3].tobytes()
    else:
        raise ValueError(f"bits must be 16 or 24; got {bits}")
    block_align = (bits // 8) * channels
    # SPEAKER_FRONT_CENTER for mono, FRONT_LEFT|FRONT_RIGHT for stereo
    channel_mask = 0x4 if channels == 1 else 0x3
    guid = struct.pack("<I", 1) + _KS_GUID_TAIL  # KSDATAFORMAT_SUBTYPE_PCM
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 12 + 40 + 8 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHHHHI", b"fmt ", 40, 0xFFFE, channels, sample_rate,
        sample_rate * block_align, block_align, bits, 22, bits, channel_mask,
    )
    out += guid
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


def _decode_s24le(raw: bytes, offset: int, n_data: int) -> np.ndarray:
    """Three-byte little-endian signed samples -> int32 (sign-extended)."""
    b = np.frombuffer(raw, dtype=np.uint8, offset=offset, count=n_data)
    b = b.reshape(-1, 3)
    v = (
        b[:, 0].astype(np.int32)
        | (b[:, 1].astype(np.int32) << 8)
        | (b[:, 2].astype(np.int32) << 16)
    )
    return v - ((v & 0x800000) << 1)  # sign-extend bit 23


# G.711 mu-law (ITU-T G.711, WAVE_FORMAT_MULAW=7): 8-bit companded
# telephony audio — the narrowest real-world non-s16le WAV layout. The
# transform is table-driven both ways (256-entry decode table, 16-bit
# segment encode), bias 0x84, as in the ITU reference implementation.
_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def _mulaw_decode_table() -> np.ndarray:
    u = np.arange(256, dtype=np.uint8)
    v = (~u).astype(np.uint8)
    sign = v & 0x80
    exp = (v >> 4) & 0x07
    mant = v.astype(np.int32) & 0x0F
    mag = (((mant << 3) + _MULAW_BIAS) << exp) - _MULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


_MULAW_TABLE = _mulaw_decode_table()


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear PCM -> uint8 G.711 mu-law codes."""
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    # exponent = MSB position above bit 7 (segment number 0..7)
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant)).astype(np.uint8)


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 mu-law codes -> int16 linear PCM."""
    return _MULAW_TABLE[np.asarray(codes, dtype=np.uint8)]


def _alaw_decode_table() -> np.ndarray:
    # ITU-T G.711 A-law expansion (the classic public-domain alaw2linear):
    # invert the 0x55 toggle, then reconstruct the 13-bit-segment magnitude
    # at 16-bit scale
    a = np.arange(256, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where((a & 0x80) != 0, t, -t).astype(np.int16)


_ALAW_TABLE = _alaw_decode_table()
_ALAW_SEG_END = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF],
                         dtype=np.int32)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear PCM -> uint8 G.711 A-law codes."""
    x = samples.astype(np.int32) >> 3  # 13-bit domain, per the spec
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_ALAW_SEG_END, mag, side="left").astype(np.int32)
    shift = np.where(seg < 2, 1, seg)
    aval = (np.minimum(seg, 7) << 4) | ((mag >> shift) & 0x0F)
    aval = np.where(seg >= 8, 0x7F, aval)
    return (aval ^ mask).astype(np.uint8)


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 A-law codes -> int16 linear PCM."""
    return _ALAW_TABLE[np.asarray(codes, dtype=np.uint8)]


def encode_wav_mulaw(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 samples -> RIFF/WAVE G.711 mu-law bytes ((n,) mono or (n, 2)
    stereo, same shape contract as encode_wav); each sample companded to
    one byte."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    data = mulaw_encode(samples).tobytes()  # C-order interleaves frames
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 7, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


def encode_wav_alaw(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 samples -> RIFF/WAVE G.711 A-law bytes (WAVE_FORMAT_ALAW=6) —
    same shape contract as encode_wav/encode_wav_mulaw."""
    if samples.ndim == 1:
        channels = 1
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    data = alaw_encode(samples).tobytes()
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 6, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


# IMA (DVI4) ADPCM — WAVE_FORMAT_IMA_ADPCM (0x11): 4-bit differential
# companding over the standard 89-entry step table, the widest-deployed
# compressed WAV layout (IMA ADPCM spec / Microsoft WAVE documentation).
# Block-structured: per channel a 4-byte state header (int16 predictor =
# the block's first sample, uint8 step index, reserved), then 4-bit codes
# packed low-nibble-first, stereo interleaved in 4-byte groups per channel.
_IMA_STEP_TABLE = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
     41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
     190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
     724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
     2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
     6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
     16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int32,
)
_IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_encode_channel(
    ch_samples: np.ndarray, spb: int
) -> list[tuple[int, int, bytes]]:
    """One channel -> [(predictor, step_index, code_bytes)] per block.
    The block's first sample goes verbatim into the header; the remaining
    spb-1 samples become one nibble each (low nibble first). The step
    index carries across blocks; a final partial block is padded by
    repeating the last sample (the fact chunk records the true count)."""
    steps, idxt = _IMA_STEP_TABLE, _IMA_INDEX_TABLE
    x = ch_samples.astype(np.int64).tolist()
    if len(x) % spb:
        x = x + [x[-1]] * (spb - len(x) % spb)
    index = 0
    blocks: list[tuple[int, int, bytes]] = []
    for b0 in range(0, len(x), spb):
        pred = int(x[b0])
        hdr = (pred, index)
        nibbles = []
        for s in x[b0 + 1 : b0 + spb]:
            step = int(steps[index])
            diff = int(s) - pred
            n = 0
            if diff < 0:
                n = 8
                diff = -diff
            if diff >= step:
                n |= 4
                diff -= step
            if diff >= step >> 1:
                n |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                n |= 1
            delta = step >> 3
            if n & 4:
                delta += step
            if n & 2:
                delta += step >> 1
            if n & 1:
                delta += step >> 2
            pred = pred - delta if n & 8 else pred + delta
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + int(idxt[n & 7])))
            nibbles.append(n)
        data = bytearray()
        for i in range(0, len(nibbles), 2):
            lo = nibbles[i]
            hi = nibbles[i + 1] if i + 1 < len(nibbles) else 0
            data.append(lo | (hi << 4))
        blocks.append((hdr[0], hdr[1], bytes(data)))
    return blocks


def _ima_decode_channel_block(
    pred: int, index: int, data: bytes, n_nibbles: int
) -> np.ndarray:
    """One channel-block's code bytes -> int16 samples (header sample
    first, then one per nibble, low nibble first)."""
    steps, idxt = _IMA_STEP_TABLE, _IMA_INDEX_TABLE
    out = np.empty(n_nibbles + 1, dtype=np.int16)
    out[0] = pred
    k = 1
    for byte in data:
        for n in (byte & 0x0F, byte >> 4):
            if k > n_nibbles:
                break
            step = int(steps[index])
            delta = step >> 3
            if n & 4:
                delta += step
            if n & 2:
                delta += step >> 1
            if n & 1:
                delta += step >> 2
            pred = pred - delta if n & 8 else pred + delta
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + int(idxt[n & 7])))
            out[k] = pred
            k += 1
    return out


def encode_wav_ima_adpcm(
    samples: np.ndarray, sample_rate: int = 8000, block_align: int | None = None
) -> bytes:
    """int16 samples -> RIFF/WAVE IMA ADPCM bytes ((n,) mono or (n, 2)
    stereo, same shape contract as encode_wav). Container: 20-byte fmt
    chunk (cbSize=2 + samplesPerBlock) + fact chunk (true frame count —
    required for compressed WAV) + block-aligned data, final block padded
    by repeating the last sample."""
    if samples.ndim == 1:
        channels = 1
        chans = [samples]
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
        chans = [samples[:, j] for j in range(channels)]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    n_frames = len(samples)
    if n_frames == 0:
        raise ValueError("IMA ADPCM needs at least one sample")
    block_align = block_align or 256 * channels
    spb = (block_align - 4 * channels) * 2 // channels + 1
    per_ch = [_ima_encode_channel(c, spb) for c in chans]
    data = bytearray()
    for bi in range(len(per_ch[0])):
        for blocks in per_ch:  # per-channel 4-byte state headers
            pred, index, _ = blocks[bi]
            data += struct.pack("<hBB", pred, index, 0)
        if channels == 1:
            data += per_ch[0][bi][2]
        else:  # interleave 4-byte (8-nibble) groups L, R, L, R, ...
            l, r = per_ch[0][bi][2], per_ch[1][bi][2]
            for g in range(0, len(l), 4):
                data += l[g : g + 4] + r[g : g + 4]
    avg_bps = sample_rate * block_align // spb
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 4 + 28 + 12 + 8 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHHHH", b"fmt ", 20, 0x11, channels, sample_rate,
        avg_bps, block_align, 4, 2, spb,
    )
    out += struct.pack("<4sII", b"fact", 4, n_frames)
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


# MS-ADPCM (WAVE_FORMAT_ADPCM=0x0002): the 7 standard predictor pairs and
# the 16-entry delta adaptation table from the Microsoft multimedia spec
_MS_COEFS = ((256, 0), (512, -256), (0, 0), (192, 64),
             (240, 0), (460, -208), (392, -232))
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)


def _ms_decode_channel_block(
    pred_idx: int, idelta: int, s1: int, s2: int, nibbles, n_out: int
) -> np.ndarray:
    """One channel-block -> int16 samples. Output starts with the two
    header samples OLDEST first (s2 then s1), then one sample per nibble
    through the predict-and-adapt recurrence."""
    c1, c2 = _MS_COEFS[pred_idx]
    out = np.empty(n_out, dtype=np.int16)
    k = 0
    for v in (s2, s1):
        if k < n_out:
            out[k] = v
            k += 1
    delta = idelta
    for n in nibbles:
        if k >= n_out:
            break
        signed = n - 16 if n >= 8 else n
        pred = (s1 * c1 + s2 * c2) >> 8
        val = max(-32768, min(32767, pred + signed * delta))
        out[k] = val
        k += 1
        delta = max(16, (_MS_ADAPT[n] * delta) >> 8)
        s2, s1 = s1, val
    return out


def _ms_encode_channel(ch_samples: np.ndarray, spb: int):
    """One channel -> [(pred_idx, idelta, sample1, sample2, nibbles)] per
    block, picking the least-squared-error predictor of the 7 standard
    pairs per block (the spec's recommended selection). idelta seeds from
    the block's early sample deltas, floored at the spec's 16."""
    x = ch_samples.astype(np.int64).tolist()
    if len(x) % spb:
        x = x + [x[-1]] * (spb - len(x) % spb)
    if len(x) == 1:  # degenerate one-sample input: pad to the 2-sample header
        x = x + [x[0]]
    blocks = []
    for b0 in range(0, len(x), spb):
        blk = x[b0 : b0 + spb]
        head = blk[: min(len(blk), 9)]
        seed = int(np.mean(np.abs(np.diff(head)))) // 4 if len(head) > 1 else 16
        idelta = max(16, seed)
        best = None
        for pi, (c1, c2) in enumerate(_MS_COEFS):
            s2, s1 = int(blk[0]), int(blk[1])
            delta = idelta
            nibbles = []
            err = 0
            for s in blk[2:]:
                pred = (s1 * c1 + s2 * c2) >> 8
                code = max(-8, min(7, int(round((s - pred) / delta))))
                val = max(-32768, min(32767, pred + code * delta))
                err += (val - s) * (val - s)
                n = code & 0xF
                nibbles.append(n)
                delta = max(16, (_MS_ADAPT[n] * delta) >> 8)
                s2, s1 = s1, val
            if best is None or err < best[0]:
                best = (err, pi, nibbles)
        blocks.append((best[1], idelta, int(blk[1]), int(blk[0]), best[2]))
    return blocks


def encode_wav_ms_adpcm(
    samples: np.ndarray, sample_rate: int = 8000, block_align: int | None = None
) -> bytes:
    """int16 samples -> RIFF/WAVE MS-ADPCM bytes ((n,) mono or (n, 2)
    stereo, same shape contract as encode_wav). Container: 50-byte fmt
    chunk (cbSize=32: samplesPerBlock + the 7 standard coefficient pairs,
    as real encoders write) + fact chunk + block-aligned data; per-block
    7-byte channel headers (predictor, idelta, sample1, sample2 — fields
    channel-interleaved for stereo), nibbles high-first for mono and
    L-high/R-low per byte for stereo."""
    if samples.ndim == 1:
        channels = 1
        chans = [samples]
    elif samples.ndim == 2 and samples.shape[1] in (1, 2):
        channels = samples.shape[1]
        chans = [samples[:, j] for j in range(channels)]
    else:
        raise ValueError(f"samples must be (n,) or (n, 1|2); got {samples.shape}")
    n_frames = len(samples)
    if n_frames == 0:
        raise ValueError("MS-ADPCM needs at least one sample")
    block_align = block_align or 256 * channels
    spb = (block_align - 7 * channels) * 2 // channels + 2
    per_ch = [_ms_encode_channel(c, spb) for c in chans]
    data = bytearray()
    for bi in range(len(per_ch[0])):
        blocks = [pc[bi] for pc in per_ch]
        for b in blocks:  # bPredictor per channel
            data += struct.pack("<B", b[0])
        for b in blocks:  # iDelta per channel
            data += struct.pack("<h", b[1])
        for b in blocks:  # iSamp1 per channel
            data += struct.pack("<h", b[2])
        for b in blocks:  # iSamp2 per channel
            data += struct.pack("<h", b[3])
        if channels == 1:
            nibs = blocks[0][4]
            for i in range(0, len(nibs), 2):
                hi = nibs[i]
                lo = nibs[i + 1] if i + 1 < len(nibs) else 0
                data.append((hi << 4) | lo)
        else:  # one L and one R nibble per byte, left in the high nibble
            ln, rn = blocks[0][4], blocks[1][4]
            for i in range(len(ln)):
                data.append((ln[i] << 4) | rn[i])
    avg_bps = sample_rate * block_align // spb
    out = bytearray()
    out += struct.pack("<4sI4s", b"RIFF", 4 + 58 + 12 + 8 + len(data), b"WAVE")
    out += struct.pack(
        "<4sIHHIIHHHHH", b"fmt ", 50, 0x2, channels, sample_rate,
        avg_bps, block_align, 4, 32, spb, 7,
    )
    for c1, c2 in _MS_COEFS:
        out += struct.pack("<hh", c1, c2)
    out += struct.pack("<4sII", b"fact", 4, n_frames)
    out += struct.pack("<4sI", b"data", len(data))
    out += data
    return bytes(out)


_WAV_CODECS = {
    (1, 16): "pcm_s16le",
    (1, 24): "pcm_s24le",
    (3, 32): "pcm_f32le",
    (6, 8): "pcm_alaw",
    (7, 8): "pcm_mulaw",
    (0x11, 4): "adpcm_ima_wav",
    (0x2, 4): "adpcm_ms",
}

# WAVE_FORMAT_EXTENSIBLE (0xFFFE) SubFormat GUIDs: Data1 carries the
# effective format tag; Data2/Data3/Data4 are the fixed KS media tail
# (00000001-0000-0010-8000-00AA00389B71 for PCM, Data1=3 for IEEE float).
_KS_GUID_TAIL = b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


def _effective_wav_fmt(raw: bytes, f0: int, fsz: int) -> tuple[int, int]:
    """(effective_format_tag, container_bits) of a fmt chunk, resolving
    WAVE_FORMAT_EXTENSIBLE through its SubFormat GUID (the modern container
    for >2 channels / >16 valid bits; the effective tag is the GUID's
    Data1). Raises at the seam for short extensible headers or non-KS
    GUIDs (proprietary subformats)."""
    fmt_tag = struct.unpack("<H", raw[f0 : f0 + 2])[0]
    bits = struct.unpack("<H", raw[f0 + 14 : f0 + 16])[0]
    if fmt_tag != 0xFFFE:
        return fmt_tag, bits
    if fsz < 40:
        raise NotImplementedError(
            f"WAVE_FORMAT_EXTENSIBLE fmt chunk must be >= 40 bytes "
            f"(cbSize 22 + SubFormat GUID); got {fsz}"
        )
    guid = raw[f0 + 24 : f0 + 40]
    if guid[4:16] != _KS_GUID_TAIL:
        raise NotImplementedError(
            "WAVE_FORMAT_EXTENSIBLE with a non-KS SubFormat GUID "
            f"({guid.hex()}) still out of scope"
        )
    eff = struct.unpack("<I", guid[:4])[0]
    return eff, bits


def _adpcm_fallback_frames(
    n_data: int, block_align: int, spb: int, channels: int, fmt_tag: int
) -> int:
    """Per-channel frame count of an ADPCM data payload WITHOUT a fact
    chunk, derived from actual bytes: full blocks contribute
    samples_per_block each; a truncated trailing block contributes its
    header samples plus one per surviving nibble (zero if even the header
    is cut short). MS (0x2) headers are 7 bytes/channel carrying 2 seed
    samples; IMA (0x11) headers are 4 bytes/channel carrying 1."""
    hdr = (7 if fmt_tag == 0x2 else 4) * channels
    seed = 2 if fmt_tag == 0x2 else 1
    frames = (n_data // block_align) * spb
    rem = n_data % block_align
    if rem > hdr:
        frames += min(spb, seed + 2 * (rem - hdr) // channels)
    return frames


def _wav_chunks(raw: bytes) -> dict[bytes, tuple[int, int]]:
    """RIFF chunk walk -> {chunk_id: (payload_offset, size)} (first
    occurrence wins; odd-sized chunks are pad-aligned per the RIFF spec).
    The fixed 44-byte header the plain encoders write is just the
    fmt-then-data special case of this."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    chunks: dict[bytes, tuple[int, int]] = {}
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        sz = struct.unpack("<I", raw[pos + 4 : pos + 8])[0]
        chunks.setdefault(cid, (pos + 8, sz))
        pos += 8 + sz + (sz & 1)
    return chunks


def decode_wav_meta(raw: bytes) -> dict:
    chunks = _wav_chunks(raw)
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("WAV payload missing fmt/data chunk")
    f0, fsz = chunks[b"fmt "]
    _raw_tag, channels, rate = struct.unpack("<HHI", raw[f0 : f0 + 8])
    block_align = struct.unpack("<H", raw[f0 + 12 : f0 + 14])[0]
    fmt_tag, bits = _effective_wav_fmt(raw, f0, fsz)
    if channels not in (1, 2) or (fmt_tag, bits) not in _WAV_CODECS:
        raise NotImplementedError(
            "only PCM s16le/s24le/f32le (plain or EXTENSIBLE-wrapped), "
            "G.711 A-law/mu-law, and IMA/MS ADPCM mono/stereo WAV supported "
            f"(fmt_tag={fmt_tag}, bits={bits}; f64 PCM still out of scope)"
        )
    n_data = chunks[b"data"][1]
    if fmt_tag in (0x11, 0x2):
        # frame count from the fact chunk (authoritative for compressed
        # WAV); fall back to a byte-derived count when absent — including
        # the frames a truncated trailing block actually carries
        spb = struct.unpack("<H", raw[f0 + 18 : f0 + 20])[0]
        if b"fact" in chunks:
            o, _ = chunks[b"fact"]
            n_frames = struct.unpack("<I", raw[o : o + 4])[0]
        else:
            n_frames = _adpcm_fallback_frames(
                n_data, block_align, spb, channels, fmt_tag
            )
    else:
        n_frames = n_data // ((bits // 8) * channels)
    return {
        "media_type": "audio",
        "codec": _WAV_CODECS[(fmt_tag, bits)],
        "width": 0,
        "height": 0,
        "duration_ms": int(n_frames * 1000 // rate),
        "n_bytes": len(raw),
    }


def decode_wav_samples(raw: bytes) -> np.ndarray:
    """WAV bytes -> int16 samples: (n,) for mono, (n, 2) for stereo.
    A-law/mu-law payloads are expanded to linear int16 through the G.711
    tables; IMA ADPCM blocks are reconstructed through the step-table
    recurrence and truncated to the fact chunk's frame count."""
    meta = decode_wav_meta(raw)  # validates format
    chunks = _wav_chunks(raw)
    f0, _ = chunks[b"fmt "]
    channels = struct.unpack("<H", raw[f0 + 2 : f0 + 4])[0]
    d0, n_data = chunks[b"data"]
    if meta["codec"] == "adpcm_ima_wav":
        block_align = struct.unpack("<H", raw[f0 + 12 : f0 + 14])[0]
        spb = struct.unpack("<H", raw[f0 + 18 : f0 + 20])[0]
        if b"fact" in chunks:
            o, _ = chunks[b"fact"]
            n_frames = struct.unpack("<I", raw[o : o + 4])[0]
        else:
            n_frames = _adpcm_fallback_frames(
                n_data, block_align, spb, channels, 0x11
            )
        data_end = d0 + n_data
        per_ch: list[list[np.ndarray]] = [[] for _ in range(channels)]
        for b0 in range(d0, data_end, block_align):
            if b0 + 4 * channels > data_end:
                break  # truncated trailing block: no full header, no samples
            states = []
            pos = b0
            for _ in range(channels):
                pred, index, _r = struct.unpack("<hBB", raw[pos : pos + 4])
                states.append((pred, index))
                pos += 4
            body = raw[pos : min(b0 + block_align, data_end)]
            if channels == 1:
                ch_bytes = [body]
            else:  # de-interleave the 4-byte groups
                ch_bytes = [bytearray(), bytearray()]
                for g in range(0, len(body), 8):
                    ch_bytes[0] += body[g : g + 4]
                    ch_bytes[1] += body[g + 4 : g + 8]
            for j in range(channels):
                # cap at this block's SURVIVING nibble count so a truncated
                # trailing block never pads with uninitialized samples
                n_nib = min(spb - 1, 2 * len(ch_bytes[j]))
                per_ch[j].append(
                    _ima_decode_channel_block(
                        states[j][0], states[j][1], bytes(ch_bytes[j]), n_nib
                    )
                )
        full = [np.concatenate(bl)[:n_frames] for bl in per_ch]
        return full[0] if channels == 1 else np.stack(full, axis=1)
    if meta["codec"] == "adpcm_ms":
        block_align = struct.unpack("<H", raw[f0 + 12 : f0 + 14])[0]
        spb = struct.unpack("<H", raw[f0 + 18 : f0 + 20])[0]
        if b"fact" in chunks:
            o, _ = chunks[b"fact"]
            n_frames = struct.unpack("<I", raw[o : o + 4])[0]
        else:
            n_frames = _adpcm_fallback_frames(
                n_data, block_align, spb, channels, 0x2
            )
        data_end = d0 + n_data
        per_ch = [[] for _ in range(channels)]
        for b0 in range(d0, data_end, block_align):
            if b0 + 7 * channels > data_end:
                break  # truncated trailing block: no full header, no samples
            pos = b0
            preds = [raw[pos + j] for j in range(channels)]
            pos += channels
            ideltas = struct.unpack(f"<{channels}h", raw[pos : pos + 2 * channels])
            pos += 2 * channels
            s1s = struct.unpack(f"<{channels}h", raw[pos : pos + 2 * channels])
            pos += 2 * channels
            s2s = struct.unpack(f"<{channels}h", raw[pos : pos + 2 * channels])
            pos += 2 * channels
            body = raw[pos : min(b0 + block_align, data_end)]
            nibs: list[list[int]] = [[] for _ in range(channels)]
            for byte in body:
                if channels == 1:  # mono: high nibble first
                    nibs[0].append(byte >> 4)
                    nibs[0].append(byte & 0x0F)
                else:  # stereo: left high, right low
                    nibs[0].append(byte >> 4)
                    nibs[1].append(byte & 0x0F)
            for j in range(channels):
                # cap at the block's surviving nibbles: _ms_decode_channel_
                # block allocates n_out up front, so a short body must not
                # leave uninitialized tail samples
                n_out = min(spb, 2 + len(nibs[j]))
                per_ch[j].append(
                    _ms_decode_channel_block(
                        preds[j], ideltas[j], s1s[j], s2s[j], nibs[j], n_out
                    )
                )
        full = [np.concatenate(bl)[:n_frames] for bl in per_ch]
        return full[0] if channels == 1 else np.stack(full, axis=1)
    if meta["codec"] in ("pcm_mulaw", "pcm_alaw"):
        codes = np.frombuffer(raw, dtype=np.uint8, offset=d0, count=n_data)
        flat = mulaw_decode(codes) if meta["codec"] == "pcm_mulaw" else alaw_decode(codes)
    elif meta["codec"] == "pcm_s24le":
        flat = _decode_s24le(raw, d0, n_data - n_data % 3)
    elif meta["codec"] == "pcm_f32le":
        # IEEE-float PCM, nominal range [-1, 1]: clip (out-of-range floats
        # are legal in float WAV; integer conversion saturates, the
        # convention every PCM converter follows) and scale to int16 with
        # round-half-away (np.floor(x+0.5) on the non-negative magnitudes)
        f = np.frombuffer(raw, dtype="<f4", offset=d0, count=n_data // 4)
        x = np.clip(f.astype(np.float64), -1.0, 1.0) * 32767.0
        flat = np.where(
            x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
        ).astype(np.int16)
    else:
        flat = np.frombuffer(raw, dtype="<i2", offset=d0, count=n_data // 2)
    return flat if channels == 1 else flat.reshape(-1, 2)
