"""From-scratch baseline-TIFF decoder/encoder — stdlib struct + numpy.

Extends the codec boundary (kernels/png_codec.py, bmp_codec.py) to
baseline TIFF 6.0 (public Adobe spec): the reference decodes with PIL
(lib/idp_common_pkg/idp_common/image/__init__.py:13-96), absent here.

decode_tiff:
- both byte orders (II little / MM big), classic 32-bit offsets,
- first IFD only (multi-page files decode page 1, documented),
- compressions: 1 (none) and 32773 (PackBits),
- PhotometricInterpretation 0 (WhiteIsZero, inverted gray), 1 (gray),
  2 (RGB / RGBA via ExtraSamples), 3 (palette, 16-bit ColorMap -> high
  byte),
- bit depths: 1/8-bit gray and palette, 8-bit per sample RGB/RGBA,
- strip layout (StripOffsets/StripByteCounts/RowsPerStrip), chunky
  planar config only.

encode_tiff (independent writer twin for fixtures): gray8 / RGB / RGBA,
either byte order, multiple strips, optional PackBits.
"""

from __future__ import annotations

import struct

import numpy as np


class TiffError(ValueError):
    """Malformed or unsupported TIFF payload."""


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}       # BYTE ASCII SHORT LONG RATIONAL


def _read_ifd(data: bytes, bo: str, off: int) -> dict[int, list[int]]:
    if off + 2 > len(data):
        raise TiffError("truncated IFD")
    (n_entries,) = struct.unpack_from(f"{bo}H", data, off)
    if off + 2 + 12 * n_entries + 4 > len(data):
        raise TiffError("truncated IFD entries")
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        e = off + 2 + 12 * k
        tag, typ, count = struct.unpack_from(f"{bo}HHI", data, e)
        if typ not in _TYPE_SIZE:
            continue                               # private/unknown type: skip
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            src = e + 8
        else:
            (src,) = struct.unpack_from(f"{bo}I", data, e + 8)
            if src + size > len(data):
                raise TiffError(f"tag {tag} value outside payload")
        if typ == 1:
            vals = list(data[src:src + count])
        elif typ == 3:
            vals = list(struct.unpack_from(f"{bo}{count}H", data, src))
        elif typ == 4:
            vals = list(struct.unpack_from(f"{bo}{count}I", data, src))
        elif typ == 5:
            raw = struct.unpack_from(f"{bo}{2 * count}I", data, src)
            vals = [raw[2 * i] // max(raw[2 * i + 1], 1)
                    for i in range(count)]
        else:                                      # ASCII — not needed
            vals = list(data[src:src + count])
        tags[tag] = vals
    return tags


def _unpackbits(src: bytes, expected: int) -> bytes:
    """PackBits (Apple RLE) decode to exactly `expected` bytes."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < expected:
        b = src[i]
        i += 1
        if b < 128:                                # literal run of b+1
            if i + b + 1 > n:
                raise TiffError("truncated PackBits literal")
            out += src[i:i + b + 1]
            i += b + 1
        elif b > 128:                              # repeat next byte 257-b
            if i >= n:
                raise TiffError("truncated PackBits repeat")
            out += bytes([src[i]]) * (257 - b)
            i += 1
        # b == 128: no-op
    if len(out) < expected:
        raise TiffError(f"PackBits underrun: {len(out)} < {expected}")
    return bytes(out[:expected])


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes -> uint8 numpy array: HxW (gray), HxWx3 (RGB/palette)
    or HxWx4 (RGBA). Raises TiffError on malformed/unsupported input."""
    if len(data) < 8:
        raise TiffError("truncated TIFF header")
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise TiffError("bad TIFF signature")
    (ifd_off,) = struct.unpack_from(f"{bo}I", data, 4)
    tags = _read_ifd(data, bo, ifd_off)

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise TiffError(f"missing required tag {tag}")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    if width <= 0 or height <= 0:
        raise TiffError("bad dimensions")
    if width * height > 64_000_000:
        raise TiffError("image too large")         # decompression-bomb guard
    compression = one(259, 1)
    photometric = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [1])                      # spec default: bilevel
    rows_per_strip = one(278, height)
    offsets = tags.get(273)
    counts = tags.get(279)
    if one(284, 1) != 1:
        raise TiffError("planar configuration 2 unsupported")
    if compression not in (1, 32773):
        raise TiffError(f"unsupported compression {compression}")
    if photometric not in (0, 1, 2, 3):
        raise TiffError(f"unsupported photometric {photometric}")
    if not offsets or not counts or len(offsets) != len(counts):
        raise TiffError("missing/mismatched strip tables")
    if photometric in (0, 1):
        if spp != 1 or bits[0] not in (1, 8):
            raise TiffError(f"unsupported gray layout spp={spp} bits={bits}")
    elif photometric == 3:
        if spp != 1 or bits[0] != 8 or 320 not in tags:
            raise TiffError("palette image needs 8-bit samples + ColorMap")
    else:                                          # RGB
        if spp not in (3, 4) or any(b != 8 for b in bits[:spp]):
            raise TiffError(f"unsupported RGB layout spp={spp} bits={bits}")

    bits0 = bits[0]
    row_bytes = (width * spp * bits0 + 7) // 8
    raw = bytearray()
    rows_done = 0
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(data):
            raise TiffError("strip outside payload")
        strip = data[off:off + cnt]
        n_rows = min(rows_per_strip, height - rows_done)
        if n_rows <= 0:
            break
        if compression == 32773:
            strip = _unpackbits(strip, row_bytes * n_rows)
        if len(strip) < row_bytes * n_rows:
            raise TiffError("strip data too short")
        raw += strip[:row_bytes * n_rows]
        rows_done += n_rows
    if rows_done < height:
        raise TiffError(f"strips cover {rows_done} of {height} rows")

    m = np.frombuffer(bytes(raw), np.uint8).reshape(height, row_bytes)
    if bits0 == 1:                                 # bilevel, MSB-first
        shifts = np.arange(7, -1, -1, dtype=np.uint8)
        px = ((m[:, :, None] >> shifts[None, None, :]) & 1)
        px = px.reshape(height, -1)[:, :width].astype(np.uint8) * 255
        return 255 - px if photometric == 0 else px
    if photometric in (0, 1):
        g = m[:, :width]
        return (255 - g) if photometric == 0 else g.copy()
    if photometric == 3:
        cmap = tags[320]
        if len(cmap) < 3 * 256:
            raise TiffError("short ColorMap")
        lut = (np.array(cmap[:3 * 256], np.uint32)
               .reshape(3, 256).T >> 8).astype(np.uint8)
        idx = m[:, :width]
        return lut[idx]
    px = m[:, :width * spp].reshape(height, width, spp)
    return px.copy()


# -- encoder (independent writer twin for fixtures/tests) --------------------


def _packbits(row: bytes) -> bytes:
    """PackBits encode one row (runs >= 3 become repeats)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and row[i + nxt] == row[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        lit = row[lit_start:min(i, lit_start + 128)]
        i = lit_start + len(lit)
        out += bytes([len(lit) - 1]) + lit
    return bytes(out)


def encode_tiff(img: np.ndarray, big_endian: bool = False,
                rows_per_strip: int = 0, packbits: bool = False) -> bytes:
    """uint8 HxW / HxWx3 / HxWx4 -> TIFF bytes (stripped, chunky)."""
    img = np.ascontiguousarray(img, np.uint8)
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    if img.ndim not in (2, 3) or spp not in (1, 3, 4):
        raise ValueError(f"unsupported array shape {img.shape}")
    bo = ">" if big_endian else "<"
    sig = b"MM\x00*" if big_endian else b"II*\x00"
    rps = rows_per_strip if rows_per_strip > 0 else h
    flat = img.reshape(h, w * spp)
    strips = []
    for y0 in range(0, h, rps):
        block = flat[y0:y0 + rps].tobytes()
        if packbits:
            row_len = w * spp
            block = b"".join(
                _packbits(block[r:r + row_len])
                for r in range(0, len(block), row_len))
        strips.append(block)

    photometric = 1 if spp == 1 else 2
    entries = []                                   # (tag, type, count, values)
    entries.append((256, 3, 1, [w]))
    entries.append((257, 3, 1, [h]))
    entries.append((258, 3, spp, [8] * spp))
    entries.append((259, 3, 1, [32773 if packbits else 1]))
    entries.append((262, 3, 1, [photometric]))
    entries.append((273, 4, len(strips), None))    # offsets patched below
    entries.append((277, 3, 1, [spp]))
    entries.append((278, 3, 1, [rps]))
    entries.append((279, 4, len(strips), [len(s) for s in strips]))
    if spp == 4:
        entries.append((338, 3, 1, [2]))           # unassociated alpha

    n = len(entries)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4            # overflow area starts here
    overflow = bytearray()

    def pack_vals(typ: int, vals: list[int]) -> bytes:
        fmt = {3: "H", 4: "I"}[typ]
        return struct.pack(f"{bo}{len(vals)}{fmt}", *vals)

    # first pass: size the overflow area so strip offsets are known
    sizes = []
    for tag, typ, count, vals in entries:
        size = _TYPE_SIZE[typ] * count
        sizes.append(size if size > 4 else 0)
    strips_off = data_off + sum(sizes)
    strip_offsets = []
    pos = strips_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    entries = [(t, ty, c, strip_offsets if t == 273 else v)
               for (t, ty, c, v) in entries]

    body = bytearray()
    body += struct.pack(f"{bo}H", n)
    cursor = data_off
    for (tag, typ, count, vals), size in zip(entries, sizes):
        packed = pack_vals(typ, vals)
        if size:                                   # indirect value
            body += struct.pack(f"{bo}HHII", tag, typ, count, cursor)
            overflow += packed
            cursor += size
        else:
            body += struct.pack(f"{bo}HHI", tag, typ, count)
            body += packed.ljust(4, b"\x00")
    body += struct.pack(f"{bo}I", 0)               # next-IFD pointer
    return (sig + struct.pack(f"{bo}I", ifd_off) + bytes(body)
            + bytes(overflow) + b"".join(strips))
