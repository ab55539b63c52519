"""From-scratch stdlib GIF / BMP / baseline-TIFF codecs (r5) + their
place in the multimodal decode dispatch (operators/multimodal)."""

from __future__ import annotations

import numpy as np
import pytest

from intelligent_document_processing_on_aws_spark.kernels.bmp_codec import (
    BmpError,
    decode_bmp,
    encode_bmp,
)
from intelligent_document_processing_on_aws_spark.kernels.gif_codec import (
    GifError,
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
)
from intelligent_document_processing_on_aws_spark.kernels.tiff_codec import (
    TiffError,
    _packbits,
    _unpackbits,
    decode_tiff,
    encode_tiff,
)

rng = np.random.RandomState(20260817)


# -- BMP ----------------------------------------------------------------------


def test_bmp_gray_palette_roundtrip():
    g = rng.randint(0, 256, size=(7, 11), dtype=np.uint8)
    out = decode_bmp(encode_bmp(g))
    assert out.shape == (7, 11, 3)
    assert (out == np.dstack([g, g, g])).all()


@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("shape", [(5, 9, 3), (6, 4, 4), (1, 1, 3), (3, 2, 4)])
def test_bmp_rgb_rgba_roundtrip(shape, top_down):
    """24-bit BI_RGB and 32-bit BITFIELDS-with-alpha, both row orders,
    odd widths exercising the 4-byte stride padding."""
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    out = decode_bmp(encode_bmp(img, top_down=top_down))
    assert out.shape == img.shape
    assert (out == img).all()


def test_bmp_16bit_555():
    """16-bit BI_RGB defaults to 555 masks; 5-bit channels scale to the
    full 8-bit range."""
    import struct

    w, h = 3, 2
    px = [(31, 0, 0), (0, 31, 0), (0, 0, 31), (31, 31, 31), (0, 0, 0),
          (16, 8, 4)]
    vals = [(r << 10) | (g << 5) | b for r, g, b in px]
    stride = ((w * 16 + 31) // 32) * 4
    body = bytearray()
    for y in (1, 0):                               # bottom-up
        row = b"".join(struct.pack("<H", v) for v in vals[y * w:(y + 1) * w])
        body += row.ljust(stride, b"\x00")
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 16, 0, len(body),
                      2835, 2835, 0, 0)
    data = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + dib + body
    out = decode_bmp(data)
    assert out.shape == (h, w, 3)
    assert tuple(out[0, 0]) == (255, 0, 0)
    assert tuple(out[0, 1]) == (0, 255, 0)
    assert tuple(out[1, 0]) == (255, 255, 255)
    assert tuple(out[1, 2]) == (132, 66, 33)       # round-half-up scaling


def test_bmp_rle8():
    """BI_RLE8: encoded runs, absolute mode, end-of-line, end-of-bitmap."""
    import struct

    w, h = 6, 2
    # bottom row: 4x7 then 2x9; top row: absolute [1,2,3] then run 3x0
    rle = bytes([4, 7, 2, 9, 0, 0,
                 0, 3, 1, 2, 3, 0,                 # absolute mode, pad byte
                 3, 0,
                 0, 1])
    pal = bytes(b for v in range(256) for b in (v, v, v, 0))
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle),
                      2835, 2835, 256, 0)
    off = 14 + 40 + len(pal)
    data = b"BM" + struct.pack("<IHHI", off + len(rle), 0, 0, off) \
        + dib + pal + rle
    out = decode_bmp(data)
    assert (out[1, :, 0] == [7, 7, 7, 7, 9, 9]).all()
    assert (out[0, :, 0] == [1, 2, 3, 0, 0, 0]).all()


def test_bmp_malformed():
    good = encode_bmp(rng.randint(0, 256, size=(5, 9, 3), dtype=np.uint8))
    for bad in [b"", b"BMshort", good[:40], good[:-5],
                b"XX" + good[2:]]:
        with pytest.raises(BmpError):
            decode_bmp(bad)


# -- TIFF ---------------------------------------------------------------------


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("packbits", [False, True])
@pytest.mark.parametrize("rows_per_strip", [0, 4])
def test_tiff_roundtrip_matrix(big_endian, packbits, rows_per_strip):
    for shape in [(13, 17), (9, 5, 3), (6, 8, 4)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out = decode_tiff(encode_tiff(
            img, big_endian=big_endian, rows_per_strip=rows_per_strip,
            packbits=packbits))
        assert out.shape == img.shape
        assert (out == img).all()


def test_tiff_packbits_property():
    for row in [bytes(rng.randint(0, 4, 200, dtype=np.uint8).tolist()),
                b"\x00" * 300, bytes(range(256)), b"", b"\x07" * 2,
                b"a" * 129, b"ab" * 200]:
        assert _unpackbits(_packbits(row), len(row)) == row


def test_tiff_palette_colormap():
    """Photometric 3: 16-bit ColorMap entries take the high byte."""
    import struct

    w, h = 4, 1
    idx = bytes([0, 1, 2, 255])
    cmap = [0] * 768
    cmap[0], cmap[256], cmap[512] = 0xFF00, 0x8000, 0x1200   # entry 0
    cmap[1], cmap[257], cmap[513] = 0x0000, 0xFF00, 0x0000   # entry 1
    cmap[255] = 0xAB00                                       # entry 255 red
    bo, sig = "<", b"II*\x00"
    entries = [
        (256, 3, 1, [w]), (257, 3, 1, [h]), (258, 3, 1, [8]),
        (259, 3, 1, [1]), (262, 3, 1, [3]), (273, 4, 1, None),
        (277, 3, 1, [1]), (278, 3, 1, [h]), (279, 4, 1, [len(idx)]),
        (320, 3, 768, None),
    ]
    n = len(entries)
    cmap_off = 8 + 2 + 12 * n + 4
    strip_off = cmap_off + 2 * 768
    body = struct.pack(f"{bo}H", n)
    for tag, typ, count, vals in entries:
        if tag == 273:
            body += struct.pack(f"{bo}HHII", tag, typ, count, strip_off)
        elif tag == 320:
            body += struct.pack(f"{bo}HHII", tag, typ, count, cmap_off)
        else:
            packed = struct.pack(f"{bo}{count}{'H' if typ == 3 else 'I'}",
                                 *vals)
            body += struct.pack(f"{bo}HHI", tag, typ, count) \
                + packed.ljust(4, b"\x00")
    body += struct.pack(f"{bo}I", 0)
    data = sig + struct.pack(f"{bo}I", 8) + body \
        + struct.pack(f"{bo}768H", *cmap) + idx
    out = decode_tiff(data)
    assert out.shape == (1, 4, 3)
    assert tuple(out[0, 0]) == (0xFF, 0x80, 0x12)
    assert tuple(out[0, 1]) == (0x00, 0xFF, 0x00)
    assert tuple(out[0, 3]) == (0xAB, 0x00, 0x00)


def test_tiff_white_is_zero_and_bilevel():
    """Photometric 0 inverts grayscale; 1-bit rows unpack MSB-first."""
    g = rng.randint(0, 256, size=(4, 6), dtype=np.uint8)
    data = encode_tiff(g)
    # flip photometric 1 -> 0 in the IFD (tag 262 value)
    import struct
    n = struct.unpack_from("<H", data, 8)[0]
    for k in range(n):
        e = 10 + 12 * k
        if struct.unpack_from("<H", data, e)[0] == 262:
            data = data[:e + 8] + struct.pack("<I", 0) + data[e + 12:]
    assert (decode_tiff(data) == 255 - g).all()

    # 1-bit bilevel (BitsPerSample omitted -> spec default 1), MSB-first:
    # rows 0b10110100 0b01xxxxxx for a 10-px-wide WhiteIsZero image
    w, h = 10, 1
    strip = bytes([0b10110100, 0b01000000])
    entries = [
        (256, 3, 1, [w]), (257, 3, 1, [h]), (259, 3, 1, [1]),
        (262, 3, 1, [0]), (273, 4, 1, None), (277, 3, 1, [1]),
        (278, 3, 1, [h]), (279, 4, 1, [len(strip)]),
    ]
    nn = len(entries)
    strip_off = 8 + 2 + 12 * nn + 4
    body = struct.pack("<H", nn)
    for tag, typ, count, vals in entries:
        if tag == 273:
            body += struct.pack("<HHII", tag, typ, count, strip_off)
        else:
            packed = struct.pack(f"<{count}{'H' if typ == 3 else 'I'}", *vals)
            body += struct.pack("<HHI", tag, typ, count) \
                + packed.ljust(4, b"\x00")
    body += struct.pack("<I", 0)
    out = decode_tiff(b"II*\x00" + struct.pack("<I", 8) + body + strip)
    bits = [1, 0, 1, 1, 0, 1, 0, 0, 0, 1]
    assert (out[0] == [0 if b else 255 for b in bits]).all()


def test_tiff_malformed():
    good = encode_tiff(rng.randint(0, 256, size=(9, 5, 3), dtype=np.uint8))
    for bad in [b"", b"II*\x00", good[:20], good[:-10],
                b"XX*\x00" + good[4:]]:
        with pytest.raises(TiffError):
            decode_tiff(bad)


# -- GIF ----------------------------------------------------------------------


@pytest.mark.parametrize("bits", [2, 4, 8])
def test_gif_lzw_property(bits):
    for n in (0, 1, 7, 5000):
        idx = bytes(rng.randint(0, 1 << bits, n, dtype=np.uint8).tolist())
        mcs = max(2, bits)
        assert _lzw_decode(_lzw_encode(idx, mcs), mcs, n) == idx


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip(interlace):
    g = rng.randint(0, 256, size=(23, 31), dtype=np.uint8)
    out = decode_gif(encode_gif(g, interlace=interlace))
    assert (out == np.dstack([g, g, g])).all()

    q = rng.randint(0, 216, size=(40, 37))
    rgb = np.stack([(q // 36 * 51), (q // 6 % 6 * 51), (q % 6 * 51)],
                   axis=2).astype(np.uint8)
    assert (decode_gif(encode_gif(rgb, interlace=interlace)) == rgb).all()


def test_gif_transparency_rgba():
    q = rng.randint(0, 216, size=(12, 9))
    rgb = np.stack([(q // 36 * 51), (q // 6 % 6 * 51), (q % 6 * 51)],
                   axis=2).astype(np.uint8)
    a = np.where((np.arange(12 * 9).reshape(12, 9) % 5) == 0, 0, 255) \
        .astype(np.uint8)
    out = decode_gif(encode_gif(np.dstack([rgb, a])))
    assert out.shape == (12, 9, 4)
    assert (out[:, :, 3] == a).all()
    vis = a == 255
    assert (out[:, :, :3][vis] == rgb[vis]).all()


def test_gif_lzw_table_reset():
    """An image large and noisy enough to exhaust the 4096-entry LZW
    dictionary forces a mid-stream clear code on both sides."""
    big = rng.randint(0, 256, size=(300, 400), dtype=np.uint8)
    assert (decode_gif(encode_gif(big))[:, :, 0] == big).all()


def test_gif_malformed():
    q = rng.randint(0, 216, size=(10, 10))
    rgb = np.stack([(q // 36 * 51), (q // 6 % 6 * 51), (q % 6 * 51)],
                   axis=2).astype(np.uint8)
    full = encode_gif(rgb)
    for bad in [b"", b"GIF89a", full[:13], full[:40], full[:-8],
                b"NOTAGIF" + full[7:]]:
        with pytest.raises(GifError):
            decode_gif(bad)
    with pytest.raises(ValueError, match="too many colors"):
        encode_gif(rng.randint(0, 256, size=(40, 40, 3), dtype=np.uint8))


# -- cross-format parity + dispatch ------------------------------------------


def test_cross_format_pixel_parity():
    """The same source pixels encoded as PNG, BMP and TIFF decode to
    IDENTICAL arrays — the three lossless decoders agree bit-for-bit."""
    from intelligent_document_processing_on_aws_spark.kernels.png_codec import (
        decode_png,
        encode_png,
    )

    rgb = rng.randint(0, 256, size=(21, 13, 3), dtype=np.uint8)
    a = decode_png(encode_png(rgb))
    b = decode_bmp(encode_bmp(rgb))
    c = decode_tiff(encode_tiff(rgb, packbits=True))
    assert (a == b).all() and (b == c).all()


def test_decode_dispatch_routes_all_formats():
    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        jpeg_bytes,
        webp_bytes,
    )
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        _decode_image,
    )

    g = rng.randint(0, 256, size=(8, 6), dtype=np.uint8)
    assert (_decode_image(encode_bmp(g)) == np.dstack([g, g, g])).all()
    assert (_decode_image(encode_tiff(g)) == g).all()
    assert (_decode_image(encode_gif(g)) == np.dstack([g, g, g])).all()
    # JPEG and WebP payloads have no decoder: they reach the boundary
    for payload in (jpeg_bytes(6, 8), webp_bytes(6, 8)):
        with pytest.raises(NotImplementedError, match="PNG, GIF, BMP"):
            _decode_image(payload)
    # wholly unknown formats keep the NotImplementedError boundary
    with pytest.raises(NotImplementedError):
        _decode_image(b"\x00\x01\x02not-an-image")


def test_decode_resize_images_mixed_formats(spark):
    """Spark end-to-end: one payload per codec through the shared
    decode->resize operator; truncated BMP lands in the error column."""
    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        resize_array,
    )
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        decode_resize_images,
    )
    import hashlib

    rgb = rng.randint(0, 256, size=(30, 20, 3), dtype=np.uint8)
    rows = [
        (0, bytearray(encode_bmp(rgb))),
        (1, bytearray(encode_tiff(rgb, big_endian=True))),
        (2, bytearray(encode_gif((rgb // 64) * 64))),
        (3, bytearray(encode_bmp(rgb)[:30])),
    ]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    got = {r.item_id: r for r in
           decode_resize_images(df, target_w=10, target_h=10).collect()}
    exp = resize_array(rgb, 10, 10)
    assert got[0].resized_sha1 == hashlib.sha1(exp.tobytes()).hexdigest()
    assert got[1].resized_sha1 == got[0].resized_sha1
    exp_gif = resize_array((rgb // 64) * 64, 10, 10)
    assert got[2].resized_sha1 == hashlib.sha1(exp_gif.tobytes()).hexdigest()
    assert got[3].error and got[3].error.startswith("BmpError")
