"""From-scratch stdlib PNG codec (kernels/png_codec) + the codec-backed
multimodal decode/resize path (operators/multimodal, r5)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from intelligent_document_processing_on_aws_spark.kernels.png_codec import (
    PNG_SIG,
    PngError,
    _ADAM7,
    _chunk,
    decode_png,
    encode_png,
)

rng = np.random.RandomState(20240517)


@pytest.mark.parametrize("shape", [(13, 17), (13, 17, 3), (13, 17, 4),
                                   (1, 1, 3), (5, 1), (1, 9, 4)])
@pytest.mark.parametrize("row_filter", [0, 1, 2, 3, 4, lambda y: y % 5])
def test_roundtrip_all_shapes_all_filters(shape, row_filter):
    img = rng.randint(0, 256, size=shape, dtype=np.uint8)
    out = decode_png(encode_png(img, row_filter=row_filter))
    assert out.shape == img.shape
    assert (out == img).all()


def test_subbyte_grayscale_depths():
    """1/2/4-bit grayscale: values unpack big-endian-within-byte and scale
    to the full 8-bit range (PNG spec sample depth scaling)."""
    w, h = 10, 4
    for depth in (1, 2, 4):
        maxv = (1 << depth) - 1
        vals = rng.randint(0, maxv + 1, size=(h, w), dtype=np.uint8)
        per_byte = 8 // depth
        rows = []
        for y in range(h):
            padded = np.zeros(((w + per_byte - 1) // per_byte) * per_byte,
                              np.uint8)
            padded[:w] = vals[y]
            packed = np.zeros(len(padded) // per_byte, np.uint8)
            for j in range(per_byte):
                packed |= padded[j::per_byte] << ((per_byte - 1 - j) * depth)
            rows.append(b"\x00" + packed.tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        png = (PNG_SIG + _chunk(b"IHDR", ihdr)
               + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
               + _chunk(b"IEND", b""))
        out = decode_png(png)
        assert (out == vals * (255 // maxv)).all(), depth


def test_palette_with_transparency():
    pal = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(6, 5), dtype=np.uint8)
    rows = b"".join(b"\x00" + idx[y].tobytes() for y in range(6))
    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 3, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", pal.tobytes())
           + _chunk(b"tRNS", bytes([10, 20]))
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == (6, 5, 4)
    assert (out[:, :, :3] == pal[idx]).all()
    expected_a = np.where(idx == 0, 10, np.where(idx == 1, 20, 255))
    assert (out[:, :, 3] == expected_a).all()


def test_16bit_takes_high_byte():
    g16 = rng.randint(0, 65536, size=(3, 4), dtype=np.uint16)
    rows = b"".join(b"\x00" + g16[y].byteswap().tobytes() for y in range(3))
    ihdr = struct.pack(">IIBBBBB", 4, 3, 16, 0, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    assert (decode_png(png) == (g16 >> 8).astype(np.uint8)).all()


def test_gray_alpha_decodes_to_rgba():
    ga = rng.randint(0, 256, size=(4, 3, 2), dtype=np.uint8)
    rows = b"".join(b"\x00" + ga[y].tobytes() for y in range(4))
    ihdr = struct.pack(">IIBBBBB", 3, 4, 8, 4, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == (4, 3, 4)
    for c in range(3):
        assert (out[:, :, c] == ga[:, :, 0]).all()
    assert (out[:, :, 3] == ga[:, :, 1]).all()


def test_adam7_interlace():
    w, h = 11, 9
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx, :]
        for y in range(sub.shape[0]):
            parts.append(b"\x00" + sub[y].tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
           + _chunk(b"IEND", b""))
    out = decode_png(png)
    assert out.shape == img.shape and (out == img).all()


def test_idat_split_across_chunks():
    img = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    full = encode_png(img, row_filter=2)
    # re-split the single IDAT into two chunks
    body = None
    for off in range(len(PNG_SIG), len(full)):
        if full[off:off + 4] == b"IDAT":
            (length,) = struct.unpack(">I", full[off - 4:off])
            body = full[off + 4:off + 4 + length]
            start, end = off - 4, off + 8 + length
            break
    assert body is not None and len(body) > 4
    split = (full[:start] + _chunk(b"IDAT", body[:3])
             + _chunk(b"IDAT", body[3:]) + full[end:])
    assert (decode_png(split) == img).all()


@pytest.mark.parametrize("mutate", [
    lambda d: b"notapng" + d[7:],                       # bad signature
    lambda d: d[:30],                                   # truncated chunk
    lambda d: d[:-5] + bytes([d[-5] ^ 0xFF]) + d[-4:],  # IEND CRC corrupt
    lambda d: d[:33] + d[45:],                          # IDAT removed-ish
])
def test_malformed_raises_pngerror(mutate):
    good = encode_png(rng.randint(0, 256, size=(4, 4), dtype=np.uint8))
    with pytest.raises(PngError):
        decode_png(mutate(good))


def test_dimension_bomb_guard():
    ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 0, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00")) + _chunk(b"IEND", b""))
    with pytest.raises(PngError, match="too large"):
        decode_png(png)


# -- Spark-side codec-backed operators ----------------------------------------


def _items_df(spark, n=12):
    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        gradient_png,
    )

    rows = [(i, bytearray(gradient_png(i))) for i in range(n)]
    return spark.createDataFrame(rows, "item_id long, payload binary")


def test_decode_resize_images_matches_pixel_truth(spark):
    """Spark decode->resize->sha1 == driver-side pixels-direct resize
    (the PNG roundtrip is inside the verified loop); truncated payloads
    degrade to the error column."""
    import hashlib

    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        gradient_image,
    )
    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        resize_array,
    )
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        decode_resize_images,
    )

    got = {r.item_id: r
           for r in decode_resize_images(_items_df(spark)).collect()}
    assert len(got) == 12
    for i in range(12):
        if i % 16 == 5:
            assert got[i].error and got[i].error.startswith("PngError")
            assert got[i].resized_sha1 is None
            continue
        img = gradient_image(i)
        if img.ndim == 2:
            img = np.dstack([img, img, img])
        img = img[:, :, :3]
        out = resize_array(img, 951, 1268)
        assert got[i].error is None
        assert (got[i].in_width, got[i].in_height) == (
            img.shape[1], img.shape[0])
        assert (got[i].out_width, got[i].out_height) == (
            out.shape[1], out.shape[0])
        assert got[i].resized_sha1 == hashlib.sha1(out.tobytes()).hexdigest()
