"""Media payload builders for the multimodal queries and tests.

The six ``*_bytes`` builders write spec-conformant headers (image_meta
parses them like any real file's) around deterministic filler that is
not a decodable image. ``gradient_png`` writes real pixels that the PNG
decoder reads back.
"""

from __future__ import annotations

import struct
import zlib


def png_bytes(width: int, height: int) -> bytes:
    ihdr_data = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    ihdr = (struct.pack(">I", len(ihdr_data)) + b"IHDR" + ihdr_data
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data)))
    idat_data = zlib.compress(b"\x00" * 8)
    idat = (struct.pack(">I", len(idat_data)) + b"IDAT" + idat_data
            + struct.pack(">I", zlib.crc32(b"IDAT" + idat_data)))
    iend = struct.pack(">I", 0) + b"IEND" + struct.pack(">I", zlib.crc32(b"IEND"))
    return b"\x89PNG\r\n\x1a\n" + ihdr + idat + iend


def jpeg_bytes(width: int, height: int) -> bytes:
    # APP0 length counts itself: 2 + 14 content bytes (JFIF\0, version,
    # units, x/y density, thumbnail dims) = 16
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x01\x02"
            + b"\x00" + struct.pack(">HH", 72, 72) + b"\x00\x00")
    dqt = b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", height, width) + b"\x01\x11\x00\x00")
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def gif_bytes(width: int, height: int) -> bytes:
    # packed flags 0x70: no global color table (0xf0 would promise one)
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x70\x00\x00" + b"\x00\x3b"


def bmp_bytes(width: int, height: int) -> bytes:
    # BITMAPINFOHEADER; even ids get top-down rows (negative height)
    h = -height if width % 2 == 0 else height
    dib = struct.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0, 0, 2835, 2835,
                      0, 0)
    return b"BM" + struct.pack("<IHHI", 14 + 40 + 4, 0, 0, 54) + dib + b"\x00" * 4


def tiff_bytes(width: int, height: int) -> bytes:
    # big-endian when width is odd (exercises both byte orders); SHORT
    # width / LONG height entry types
    bo = ">" if width % 2 else "<"
    order = b"MM\x00*" if width % 2 else b"II*\x00"
    entries = (
        struct.pack(f"{bo}HHI", 256, 3, 1) + struct.pack(f"{bo}H", width)
        + b"\x00\x00"
        + struct.pack(f"{bo}HHI", 257, 4, 1) + struct.pack(f"{bo}I", height)
    )
    ifd = struct.pack(f"{bo}H", 2) + entries + struct.pack(f"{bo}I", 0)
    return order + struct.pack(f"{bo}I", 8) + ifd


def webp_bytes(width: int, height: int) -> bytes:
    # rotate the three container shapes: VP8X canvas / lossy VP8 / VP8L
    v = (width + height) % 3
    if v == 0:
        payload = (b"\x2f" + struct.pack(
            "<I", (width - 1) | ((height - 1) << 14)))
        chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    elif v == 1:
        payload = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                   + struct.pack("<HH", width, height) + b"\x00" * 4)
        chunk = b"VP8 " + struct.pack("<I", len(payload)) + payload
    else:
        payload = (b"\x00\x00\x00\x00"
                   + (width - 1).to_bytes(3, "little")
                   + (height - 1).to_bytes(3, "little"))
        chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    if len(chunk) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# -- real-pixel PNG fixtures (r5: codec-backed resize path) -------------------

def gradient_image(i: int):
    """Deterministic real pixel content for item i: closed-form gradient
    (no RNG — the oracle re-derives it from the same integer formulas).
    Shape rotates gray / RGB / RGBA; dims span 160..999 x 120..999 so the
    corpus mixes downscale and leave-unchanged cases against the
    reference's 951x1268 fit-within target."""
    import numpy as np

    w = 160 + (i * 97) % 840
    h = 120 + (i * 61) % 880
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    base = (x * 3 + y * 5 + i * 11) % 256
    if i % 3 == 0:
        return base.astype(np.uint8)
    n_ch = 3 if i % 3 == 1 else 4
    return np.stack(
        [((base + c * 17 + i * 7) % 256).astype(np.uint8)
         for c in range(n_ch)], axis=2)


def _gradient_row_filter(y: int) -> int:
    """Cycle the vectorized filters (None/Sub/Up) with periodic Average
    and Paeth rows — every decoder filter path exercised per image."""
    if y % 29 == 7:
        return 3
    if y % 29 == 8:
        return 4
    return (0, 1, 2)[y % 3]


def gradient_png(i: int) -> bytes:
    """encode_png of gradient_image(i); every 16th item (i % 16 == 5) is
    TRUNCATED mid-chunk — a malformed payload that must land in the
    operator's error column, never raise."""
    from ..kernels.png_codec import encode_png

    data = encode_png(gradient_image(i), row_filter=_gradient_row_filter)
    if i % 16 == 5:
        return data[:30]
    return data

