"""From-scratch BMP decoder/encoder — stdlib struct + numpy only, no PIL.

Extends the codec boundary (kernels/png_codec.py) to the
Windows bitmap format: the reference's image pipeline decodes with PIL
before resizing (lib/idp_common_pkg/idp_common/image/__init__.py:13-96);
PIL is absent from this container, so this module implements the public
BMP/DIB format (Windows BITMAPINFOHEADER family) directly.

decode_bmp:
- BITMAPINFOHEADER (40) and the V2-V5 supersets (52/56/108/124),
- bit depths 1/4/8 (BGRX palette), 16 (555 default or BITFIELDS masks),
  24 (BGR), 32 (BGRX, or BITFIELDS incl. an alpha mask -> RGBA),
- compressions: BI_RGB (0), BI_RLE8 (1, 8-bit only), BI_BITFIELDS (3),
- bottom-up (positive height) and top-down (negative height) row order,
- 4-byte row stride padding.

encode_bmp (independent writer twin, fixture-generator pattern):
- gray input  -> 8-bit palette BMP (256-entry gray palette),
- RGB input   -> 24-bit BI_RGB,
- RGBA input  -> 32-bit BI_BITFIELDS with an alpha mask,
- top_down=True writes negative-height top-down rows.
"""

from __future__ import annotations

import struct

import numpy as np


class BmpError(ValueError):
    """Malformed or unsupported BMP payload."""


def _mask_shift(mask: int) -> tuple[int, int]:
    """(right-shift, bit-width) of a contiguous channel mask."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    return shift, width


def _scale_to_8(v: np.ndarray, width: int) -> np.ndarray:
    """Channel values of `width` bits -> full 8-bit range (round-half-up,
    the common windowing used by decoders for 555/565 content)."""
    if width == 0:
        return np.full(v.shape, 255, np.uint8)
    if width == 8:
        return v.astype(np.uint8)
    maxv = (1 << width) - 1
    return ((v.astype(np.uint32) * 255 + maxv // 2) // maxv).astype(np.uint8)


def _decode_rle8(data: bytes, width: int, height: int) -> np.ndarray:
    """BI_RLE8 -> (height, width) palette indices (bottom-up input rows)."""
    out = np.zeros((height, width), np.uint8)
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:                       # encoded run
            if y >= height:
                raise BmpError("RLE8 run outside image")
            end = min(x + cnt, width)
            out[y, x:end] = val
            x = end
        elif val == 0:                    # end of line
            x, y = 0, y + 1
        elif val == 1:                    # end of bitmap
            return out
        elif val == 2:                    # delta
            if i + 2 > n:
                raise BmpError("truncated RLE8 delta")
            x = min(x + data[i], width)
            y += data[i + 1]
            i += 2
        else:                             # absolute mode: `val` literals
            if i + val > n or y >= height:
                raise BmpError("truncated RLE8 absolute run")
            end = min(x + val, width)
            out[y, x:end] = np.frombuffer(data[i:i + (end - x)], np.uint8)
            x = end
            i += val + (val & 1)          # word-aligned
    raise BmpError("RLE8 stream missing end-of-bitmap")


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> uint8 numpy array: HxW (gray palettes stay 3-channel
    RGB for uniformity with palette PNG — callers that need gray convert),
    HxWx3 (RGB) or HxWx4 (RGBA when an alpha mask is present). Raises
    BmpError on malformed/unsupported input."""
    if len(data) < 54 or data[:2] != b"BM":
        raise BmpError("bad BMP signature or truncated header")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise BmpError(f"unsupported DIB header size {hdr_size}")
    (width, height_raw, planes, bpp, comp, _img_size) = struct.unpack_from(
        "<iiHHII", data, 18)
    top_down = height_raw < 0
    height = -height_raw if top_down else height_raw
    if width <= 0 or height <= 0:
        raise BmpError("bad dimensions")
    if width * height > 64_000_000:
        raise BmpError("image too large")          # decompression-bomb guard
    if planes != 1:
        raise BmpError(f"bad plane count {planes}")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise BmpError(f"unsupported bit depth {bpp}")
    if comp not in (0, 1, 3):
        raise BmpError(f"unsupported compression {comp}")
    if comp == 1 and (bpp != 8 or top_down):
        raise BmpError("RLE8 requires 8-bit bottom-up data")

    n_colors = struct.unpack_from("<I", data, 46)[0]
    masks = None
    if comp == 3:
        if bpp not in (16, 32):
            raise BmpError("BITFIELDS requires 16/32-bit data")
        # masks live in the V2+ header or (header size 40) right after it
        mask_off = 54 if hdr_size == 40 else 54
        if len(data) < mask_off + 12:
            raise BmpError("truncated BITFIELDS masks")
        r_m, g_m, b_m = struct.unpack_from("<III", data, mask_off)
        a_m = 0
        if hdr_size >= 56 and len(data) >= mask_off + 16:
            a_m = struct.unpack_from("<I", data, mask_off + 12)[0]
        masks = (r_m, g_m, b_m, a_m)

    palette = None
    if bpp <= 8:
        if n_colors == 0:
            n_colors = 1 << bpp
        pal_off = 14 + hdr_size + (12 if comp == 3 and hdr_size == 40 else 0)
        pal_bytes = data[pal_off:pal_off + 4 * n_colors]
        if len(pal_bytes) < 4 * n_colors:
            raise BmpError("truncated palette")
        quads = np.frombuffer(pal_bytes, np.uint8).reshape(-1, 4)
        palette = quads[:, [2, 1, 0]].copy()       # BGRX -> RGB

    if bpp == 8 and comp == 1:
        if pixel_off > len(data):
            raise BmpError("pixel offset beyond payload")
        idx = _decode_rle8(data[pixel_off:], width, height)
        idx = idx[::-1]                            # RLE rows are bottom-up
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        return palette[idx]

    row_stride = ((width * bpp + 31) // 32) * 4
    need = pixel_off + row_stride * height
    if len(data) < need:
        raise BmpError(f"pixel data too short: {len(data)} < {need}")
    rows = np.frombuffer(
        data[pixel_off:pixel_off + row_stride * height], np.uint8
    ).reshape(height, row_stride)
    if not top_down:
        rows = rows[::-1]

    if bpp in (1, 4):
        per_byte = 8 // bpp
        shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * bpp
        mask = (1 << bpp) - 1
        idx = ((rows[:, :, None] >> shifts[None, None, :]) & mask)
        idx = idx.reshape(height, -1)[:, :width]
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        return palette[idx]
    if bpp == 8:
        idx = rows[:, :width]
        if int(idx.max(initial=0)) >= len(palette):
            raise BmpError("palette index out of range")
        return palette[idx]
    if bpp == 16:
        px = rows.reshape(height, -1)[:, :width * 2]
        v = px.reshape(height, width, 2).astype(np.uint16)
        v = v[:, :, 0] | (v[:, :, 1] << 8)
        r_m, g_m, b_m, a_m = masks or (0x7C00, 0x03E0, 0x001F, 0)
        chans = []
        for m in (r_m, g_m, b_m):
            sh, wd = _mask_shift(m)
            chans.append(_scale_to_8((v >> sh) & ((1 << wd) - 1), wd))
        if a_m:
            sh, wd = _mask_shift(a_m)
            chans.append(_scale_to_8((v >> sh) & ((1 << wd) - 1), wd))
        return np.dstack(chans)
    if bpp == 24:
        px = rows[:, :width * 3].reshape(height, width, 3)
        return px[:, :, ::-1].copy()               # BGR -> RGB
    # bpp == 32
    px = rows[:, :width * 4].reshape(height, width, 4)
    if masks and masks[3]:
        v = px.astype(np.uint32)
        v = v[:, :, 0] | (v[:, :, 1] << 8) | (v[:, :, 2] << 16) | (v[:, :, 3] << 24)
        chans = []
        for m in masks:                            # r, g, b, a
            sh, wd = _mask_shift(m)
            chans.append(_scale_to_8((v >> sh) & ((1 << wd) - 1), wd))
        return np.dstack(chans)
    return px[:, :, [2, 1, 0]].copy()              # BGRX -> RGB, X dropped


# -- encoder (independent writer twin for fixtures/tests) --------------------


def encode_bmp(img: np.ndarray, top_down: bool = False) -> bytes:
    """uint8 HxW / HxWx3 / HxWx4 -> BMP bytes.

    gray -> 8-bit palette; RGB -> 24-bit BI_RGB; RGBA -> 32-bit
    BI_BITFIELDS with an alpha mask (so decode roundtrips the alpha)."""
    img = np.ascontiguousarray(img, np.uint8)
    h, w = img.shape[:2]
    if img.ndim == 2:
        bpp, comp = 8, 0
        pal = bytes(b for g in range(256) for b in (g, g, g, 0))
        row = img
    elif img.ndim == 3 and img.shape[2] == 3:
        bpp, comp = 24, 0
        pal = b""
        row = img[:, :, ::-1].reshape(h, w * 3)    # RGB -> BGR
    elif img.ndim == 3 and img.shape[2] == 4:
        bpp, comp = 32, 3
        pal = b""
        row = img[:, :, [2, 1, 0, 3]].reshape(h, w * 4)  # -> BGRA
    else:
        raise ValueError(f"unsupported array shape {img.shape}")
    stride = ((w * bpp + 31) // 32) * 4
    padded = np.zeros((h, stride), np.uint8)
    padded[:, :row.shape[1]] = row.reshape(h, -1)
    if not top_down:
        padded = padded[::-1]
    # BITFIELDS alpha rides the 56-byte header (40-byte base + RGBA masks)
    hdr_size = 56 if comp == 3 else 40
    extra = struct.pack("<IIII", 0x00FF0000, 0x0000FF00, 0x000000FF,
                        0xFF000000) if comp == 3 else b""
    pixel_off = 14 + hdr_size + len(pal)
    dib = struct.pack("<IiiHHIIiiII", hdr_size, w, (-h if top_down else h),
                      1, bpp, comp, stride * h, 2835, 2835,
                      256 if bpp == 8 else 0, 0) + extra
    body = padded.tobytes()
    filehdr = struct.pack("<2sIHHI", b"BM", pixel_off + len(body),
                          0, 0, pixel_off)
    return filehdr + dib + pal + body
