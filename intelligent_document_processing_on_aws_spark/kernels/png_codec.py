"""From-scratch PNG decoder/encoder — stdlib zlib + struct only, no PIL.

Closes the codec boundary for the most common web image format: the
reference's image pipeline decodes with PIL before resizing
(lib/idp_common_pkg/idp_common/image/__init__.py:13-96) — PIL is absent
from this container, so this module implements the PNG spec (RFC 2083 /
W3C PNG second edition, public) directly:

decode_png:
- chunk walk with CRC verification (IHDR / PLTE / tRNS / IDAT+ / IEND),
- zlib inflate of the concatenated IDAT stream,
- all 5 scanline filters (None / Sub / Up / Average / Paeth),
- color types 0 (grayscale), 2 (RGB), 3 (palette), 4 (gray+alpha),
  6 (RGBA); bit depths 1/2/4/8 for types 0 and 3, 8/16 for the rest
  (16-bit channels take the high byte — PIL's I;16->L convention),
- Adam7 interlace (method 1) via per-pass sub-image defiltering.

encode_png (the independent writer twin, fixture-generator pattern of
fixtures/xls_gen.py): 8-bit gray / RGB / RGBA, non-interlaced, with a
caller-chosen scanline filter so tests exercise every decode filter path.

PNG is the only pixel decoder: every other format reaches the
NotImplementedError boundary (operators/multimodal.py); header metadata
for every format lives in kernels/image_meta.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel for each color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

# Adam7 pass grids: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


class PngError(ValueError):
    """Malformed or unsupported PNG payload."""


def _chunks(data: bytes):
    if not data.startswith(PNG_SIG):
        raise PngError("bad PNG signature")
    i, n = len(PNG_SIG), len(data)
    while i + 8 <= n:
        (length,) = struct.unpack(">I", data[i:i + 4])
        ctype = data[i + 4:i + 8]
        body = data[i + 8:i + 8 + length]
        if len(body) != length or i + 12 + length > n:
            raise PngError(f"truncated chunk {ctype!r}")
        (crc,) = struct.unpack(">I", data[i + 8 + length:i + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise PngError(f"bad CRC in chunk {ctype!r}")
        yield ctype, body
        i += 12 + length
        if ctype == b"IEND":
            return
    raise PngError("missing IEND")


def _unfilter(raw: bytes, width: int, height: int, bpp: int,
              row_bytes: int) -> bytearray:
    """Reverse the per-scanline filters. bpp = filter unit in BYTES
    (ceil for sub-byte depths is 1, per spec)."""
    expected = (row_bytes + 1) * height
    if len(raw) < expected:
        raise PngError(f"IDAT too short: {len(raw)} < {expected}")
    out = bytearray(row_bytes * height)
    prev_start = -1
    for y in range(height):
        f = raw[y * (row_bytes + 1)]
        line = raw[y * (row_bytes + 1) + 1:(y + 1) * (row_bytes + 1)]
        o = y * row_bytes
        if f == 0:                                   # None
            out[o:o + row_bytes] = line
        elif f == 1:                                 # Sub
            # out[x] = (line[x] + out[x-bpp]) mod 256 is a prefix sum mod
            # 256 over each bpp-strided lane — vectorized via cumsum
            arr = np.frombuffer(line, np.uint8).astype(np.int64)
            pad = (-len(arr)) % bpp
            if pad:
                arr = np.concatenate([arr, np.zeros(pad, np.int64)])
            lanes = arr.reshape(-1, bpp)
            summed = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8)
            out[o:o + row_bytes] = summed.reshape(-1)[:row_bytes].tobytes()
        elif f == 2:                                 # Up
            if prev_start < 0:
                out[o:o + row_bytes] = line
            else:
                up = out[prev_start:prev_start + row_bytes]
                out[o:o + row_bytes] = (
                    np.frombuffer(line, np.uint8)
                    + np.frombuffer(bytes(up), np.uint8)
                ).astype(np.uint8).tobytes()
        elif f == 3:                                 # Average
            # tight-loop spelling: the previous row is snapshotted once
            # and the current row built in a local bytearray — indexing
            # locals instead of the big `out` buffer per byte is ~2x in
            # CPython (same arithmetic, same bytes)
            up_row = (bytes(out[prev_start:prev_start + row_bytes])
                      if prev_start >= 0 else b"\x00" * row_bytes)
            cur = bytearray(row_bytes)
            for x in range(row_bytes):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + ((left + up_row[x]) >> 1)) & 0xFF
            out[o:o + row_bytes] = cur
        elif f == 4:                                 # Paeth
            # same tight-loop spelling, with the predictor inlined —
            # the per-byte _paeth call + abs() chain dominated decode
            # profiles (620k calls / 22 images); branch arithmetic below
            # is the identical predictor
            up_row = (bytes(out[prev_start:prev_start + row_bytes])
                      if prev_start >= 0 else b"\x00" * row_bytes)
            cur = bytearray(row_bytes)
            for x in range(row_bytes):
                a = cur[x - bpp] if x >= bpp else 0
                b = up_row[x]
                c = up_row[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[x] = (line[x] + pred) & 0xFF
            out[o:o + row_bytes] = cur
        else:
            raise PngError(f"unknown filter type {f} on row {y}")
        prev_start = o
    return out


def _rows_to_samples(rows: bytearray, width: int, height: int,
                     depth: int, channels: int,
                     row_bytes: int) -> np.ndarray:
    """(height, width*channels) uint8 sample matrix from defiltered rows,
    expanding sub-byte depths and collapsing 16-bit to the high byte."""
    m = np.frombuffer(bytes(rows), np.uint8).reshape(height, row_bytes)
    if depth == 8:
        return m[:, :width * channels]
    if depth == 16:
        return m.reshape(height, -1)[:, 0:width * channels * 2:2]
    # 1/2/4-bit: unpack big-endian within each byte; values stay raw
    # indices (palette) or get scaled to 8-bit (grayscale) by the caller
    per_byte = 8 // depth
    shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * depth
    mask = (1 << depth) - 1
    expanded = ((m[:, :, None] >> shifts[None, None, :]) & mask)
    return expanded.reshape(height, -1)[:, :width * channels].astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 numpy array: HxW (gray), HxWx3 (RGB) or
    HxWx4 (RGBA). Gray+alpha decodes to HxWx4 (gray replicated) so
    downstream sees only three shapes. Raises PngError on malformed
    input, NotImplementedError never (all spec color types handled)."""
    ihdr = None
    plte = None
    trns = None
    idat = []
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            if len(body) != 13:
                raise PngError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if len(body) % 3:
                raise PngError("PLTE not a multiple of 3")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IDAT":
            idat.append(body)
    if ihdr is None:
        raise PngError("missing IHDR")
    if not idat:
        raise PngError("missing IDAT")
    width, height, depth, ctype_n, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0:
        raise PngError("bad dimensions")
    if width * height > 64_000_000:
        raise PngError("image too large")        # decompression-bomb guard
    if comp != 0 or filt != 0:
        raise PngError("unknown compression/filter method")
    if ctype_n not in _CHANNELS or depth not in _VALID_DEPTHS[ctype_n]:
        raise PngError(f"bad color-type/depth {ctype_n}/{depth}")
    if ctype_n == 3 and plte is None:
        raise PngError("palette image without PLTE")
    channels = _CHANNELS[ctype_n]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise PngError(f"IDAT inflate failed: {e}") from e

    def defilter_region(raw_part: bytes, w: int, h: int) -> np.ndarray:
        bits = w * channels * depth
        row_bytes = (bits + 7) // 8
        bpp = max((channels * depth) // 8, 1)
        rows = _unfilter(raw_part, w, h, bpp, row_bytes)
        return _rows_to_samples(rows, w, h, depth, channels, row_bytes)

    if interlace == 0:
        samples = defilter_region(raw, width, height)
    elif interlace == 1:                          # Adam7
        samples = np.zeros((height, width * channels), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            bits = pw * channels * depth
            row_bytes = (bits + 7) // 8
            size = (row_bytes + 1) * ph
            sub = defilter_region(raw[pos:pos + size], pw, ph)
            pos += size
            sub = sub.reshape(ph, pw, channels)
            tgt = samples.reshape(height, width, channels)
            tgt[y0::dy, x0::dx, :] = sub
        samples = samples.reshape(height, width * channels)
    else:
        raise PngError(f"unknown interlace method {interlace}")

    if ctype_n == 3:                              # palette lookup
        idx = samples.reshape(height, width)
        if int(idx.max(initial=0)) >= len(plte):
            raise PngError("palette index out of range")
        rgb = plte[idx]                           # HxWx3
        if trns is not None:
            alpha_lut = np.full(len(plte), 255, np.uint8)
            alpha_lut[:len(trns)] = np.frombuffer(trns, np.uint8)
            a = alpha_lut[idx]
            return np.dstack([rgb, a])
        return rgb
    if ctype_n == 0:
        g = samples.reshape(height, width)
        if depth in (1, 2, 4):                    # scale to full 8-bit range
            g = (g.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
                .astype(np.uint8)
        return g
    if ctype_n == 2:
        return samples.reshape(height, width, 3)
    if ctype_n == 4:                              # gray+alpha -> RGBA
        ga = samples.reshape(height, width, 2)
        g, a = ga[:, :, 0], ga[:, :, 1]
        return np.dstack([g, g, g, a])
    return samples.reshape(height, width, 4)      # ctype 6


# -- encoder (independent writer twin for fixtures/tests) --------------------


def _filter_row(cur: np.ndarray, prev: np.ndarray | None, bpp: int,
                ftype: int) -> bytes:
    cur_i = cur.astype(np.int64)
    left = np.zeros_like(cur_i)
    left[bpp:] = cur_i[:-bpp]
    up = prev.astype(np.int64) if prev is not None else np.zeros_like(cur_i)
    ul = np.zeros_like(cur_i)
    if prev is not None:
        ul[bpp:] = up[:-bpp]
    if ftype == 0:
        out = cur_i
    elif ftype == 1:
        out = cur_i - left
    elif ftype == 2:
        out = cur_i - up
    elif ftype == 3:
        out = cur_i - ((left + up) >> 1)
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul))
        out = cur_i - pred
    else:
        raise ValueError(f"bad filter type {ftype}")
    return (out & 0xFF).astype(np.uint8).tobytes()


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def encode_png(img: np.ndarray, row_filter=None, level: int = 6) -> bytes:
    """uint8 HxW / HxWx3 / HxWx4 -> PNG bytes (8-bit, non-interlaced).

    row_filter: None -> filter 0 everywhere; an int -> that filter for
    every row; a callable y->int -> per-row choice (tests cycle through
    all 5 to exercise every decoder filter path)."""
    img = np.ascontiguousarray(img, np.uint8)
    if img.ndim == 2:
        ctype_n, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        ctype_n, channels = 2, 3
    elif img.ndim == 3 and img.shape[2] == 4:
        ctype_n, channels = 6, 4
    else:
        raise ValueError(f"unsupported array shape {img.shape}")
    h, w = img.shape[:2]
    flat = img.reshape(h, w * channels)
    bpp = channels
    parts = []
    prev = None
    for y in range(h):
        if row_filter is None:
            f = 0
        elif callable(row_filter):
            f = int(row_filter(y))
        else:
            f = int(row_filter)
        parts.append(bytes([f]))
        parts.append(_filter_row(flat[y], prev, bpp, f))
        prev = flat[y]
    idat = zlib.compress(b"".join(parts), level)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_n, 0, 0, 0)
    return (PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))
