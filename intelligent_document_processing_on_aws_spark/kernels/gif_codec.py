"""From-scratch GIF decoder/encoder — stdlib struct + numpy, no PIL.

Extends the codec boundary (kernels/png_codec.py, bmp_codec.py,
tiff_codec.py) to GIF87a/89a (public W3C/CompuServe spec):
the reference decodes with PIL (lib/idp_common_pkg/idp_common/image/
__init__.py:13-96), absent from this container.

decode_gif:
- GIF87a and GIF89a, global + local color tables,
- full variable-width LZW decompression (clear/EOI codes, 12-bit cap),
- 4-pass row interlacing,
- GIF89a graphic-control transparency (transparent index -> RGBA),
- the FIRST image frame only (animation = frame 1, documented), placed
  at its descriptor offsets on a background-filled canvas.

encode_gif (independent writer twin for fixtures): gray (256-gray
palette), paletted RGB (<= 256 unique colors), or RGBA with binary
alpha (0/255 -> one transparent index); optional interlace; LZW with
dictionary reset at 4096 entries.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    """Malformed or unsupported GIF payload."""


def _subblocks(data: bytes, i: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at i; return (bytes, next_i)."""
    out = bytearray()
    n = len(data)
    while True:
        if i >= n:
            raise GifError("truncated sub-block chain")
        size = data[i]
        i += 1
        if size == 0:
            return bytes(out), i
        if i + size > n:
            raise GifError("truncated sub-block")
        out += data[i:i + size]
        i += size


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """GIF variable-width LZW -> `expected` pixel indices."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    # bit reader state (LSB-first)
    acc = 0
    acc_bits = 0
    pos = 0
    n = len(data)

    def init_table():
        return {i: bytes([i]) for i in range(clear)}

    table = init_table()
    next_code = eoi + 1
    code_size = min_code_size + 1
    prev: bytes | None = None

    while len(out) < expected:
        while acc_bits < code_size:
            if pos >= n:
                raise GifError("LZW stream exhausted before image complete")
            acc |= data[pos] << acc_bits
            acc_bits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        acc_bits -= code_size

        if code == clear:
            table = init_table()
            next_code = eoi + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise GifError(f"bad first LZW code {code}")
        elif code in table:
            entry = table[code]
        elif code == next_code:                    # KwKwK case
            entry = prev + prev[:1]
        else:
            raise GifError(f"LZW code {code} out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    if len(out) < expected:
        raise GifError(f"LZW underrun: {len(out)} < {expected}")
    return bytes(out[:expected])


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    out = np.empty_like(idx)
    rows = (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))
    out[rows] = idx
    return out


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> uint8 HxWx3 (RGB) or HxWx4 (RGBA if a transparent
    index is declared). Raises GifError on malformed/unsupported input."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("bad GIF signature")
    width, height = struct.unpack_from("<HH", data, 6)
    if width <= 0 or height <= 0:
        raise GifError("bad canvas dimensions")
    if width * height > 64_000_000:
        raise GifError("image too large")          # decompression-bomb guard
    packed = data[10]
    bg_index = data[11]
    i = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        if i + 3 * size > len(data):
            raise GifError("truncated global color table")
        gct = np.frombuffer(data[i:i + 3 * size], np.uint8).reshape(-1, 3)
        i += 3 * size

    transparent: int | None = None
    n = len(data)
    while i < n:
        b = data[i]
        i += 1
        if b == 0x3B:                              # trailer before any image
            raise GifError("no image data in GIF")
        if b == 0x21:                              # extension
            if i >= n:
                raise GifError("truncated extension")
            label = data[i]
            i += 1
            body, i = _subblocks(data, i)
            if label == 0xF9 and len(body) >= 4:   # graphic control
                if body[0] & 0x01:
                    transparent = body[3]
            continue
        if b != 0x2C:
            raise GifError(f"unexpected block 0x{b:02x}")
        # image descriptor
        if i + 9 > n:
            raise GifError("truncated image descriptor")
        left, top, fw, fh = struct.unpack_from("<HHHH", data, i)
        fpacked = data[i + 8]
        i += 9
        if fw <= 0 or fh <= 0 or left + fw > width or top + fh > height:
            raise GifError("frame outside canvas")
        palette = gct
        if fpacked & 0x80:                         # local color table
            size = 2 << (fpacked & 0x07)
            if i + 3 * size > n:
                raise GifError("truncated local color table")
            palette = np.frombuffer(
                data[i:i + 3 * size], np.uint8).reshape(-1, 3)
            i += 3 * size
        if palette is None:
            raise GifError("image without any color table")
        if i >= n:
            raise GifError("missing LZW minimum code size")
        min_code = data[i]
        i += 1
        lzw, i = _subblocks(data, i)
        idx = np.frombuffer(
            _lzw_decode(lzw, min_code, fw * fh), np.uint8
        ).reshape(fh, fw)
        if fpacked & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(palette):
            raise GifError("palette index out of range")

        # background fill for any canvas area outside the frame; resolved
        # against the frame's palette (same table when no LCT — the
        # common case), clamped if the LCT is smaller than the bg index
        bg = bg_index if bg_index < len(palette) else 0
        canvas_idx = np.full((height, width), bg, np.uint8)
        canvas_idx[top:top + fh, left:left + fw] = idx
        rgb = palette[canvas_idx]
        if transparent is None:
            return rgb
        alpha = np.where(canvas_idx == transparent, 0, 255).astype(np.uint8)
        return np.dstack([rgb, alpha])
    raise GifError("missing GIF trailer")


# -- encoder (independent writer twin for fixtures/tests) --------------------


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    acc_bits = 0

    def emit(code: int, size: int):
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += size
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    emit(clear, code_size)
    w = b""
    for ch in indices:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_size)
        if next_code < 4096:
            table[wc] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        else:                                      # table full: reset
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([ch])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 HxW (gray), HxWx3 (<=256 unique colors) or HxWx4 (binary
    alpha) -> GIF89a bytes with a global color table."""
    img = np.ascontiguousarray(img, np.uint8)
    h, w = img.shape[:2]
    transparent = None
    if img.ndim == 2:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        idx = img
    else:
        rgb = img[:, :, :3]
        alpha = img[:, :, 3] if img.shape[2] == 4 else None
        if alpha is not None and not np.isin(alpha, (0, 255)).all():
            raise ValueError("GIF alpha must be binary 0/255")
        keys = (rgb[:, :, 0].astype(np.uint32) << 16) \
            | (rgb[:, :, 1].astype(np.uint32) << 8) | rgb[:, :, 2]
        if alpha is not None:
            keys = np.where(alpha == 0, 1 << 24, keys)  # all transparents merge
        uniq, inverse = np.unique(keys, return_inverse=True)
        if len(uniq) > 256:
            raise ValueError(f"too many colors for GIF: {len(uniq)}")
        palette = np.zeros((len(uniq), 3), np.uint8)
        vis = uniq < (1 << 24)
        palette[vis, 0] = (uniq[vis] >> 16) & 0xFF
        palette[vis, 1] = (uniq[vis] >> 8) & 0xFF
        palette[vis, 2] = uniq[vis] & 0xFF
        if (~vis).any():
            transparent = int(np.nonzero(~vis)[0][0])
        idx = inverse.reshape(h, w).astype(np.uint8)

    # palette size must be a power of two >= 2
    bits = max(2, int(len(palette) - 1).bit_length())
    full = 1 << bits
    pal = np.zeros((full, 3), np.uint8)
    pal[:len(palette)] = palette

    if interlace:
        rows = (list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2)))
        idx_out = idx[rows]
    else:
        idx_out = idx

    min_code = max(2, bits)
    lzw = _lzw_encode(idx_out.tobytes(), min_code)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((bits - 1) & 0x07), 0, 0])
    out += pal.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    fpacked = 0x40 if interlace else 0
    out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + bytes([fpacked])
    out += bytes([min_code]) + blocks
    out += b"\x3B"
    return bytes(out)
