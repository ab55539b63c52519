"""The multimodal decode boundary (operators/multimodal): PNG is the only
pixel decoder; every other image magic reaches NotImplementedError."""

from __future__ import annotations

import numpy as np
import pytest

from intelligent_document_processing_on_aws_spark.kernels.png_codec import (
    encode_png,
)

rng = np.random.RandomState(20260817)


def test_decode_dispatch_routes_all_formats():
    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        bmp_bytes,
        gif_bytes,
        jpeg_bytes,
        tiff_bytes,
        webp_bytes,
    )
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        _decode_image,
    )

    g = rng.randint(0, 256, size=(8, 6), dtype=np.uint8)
    assert (_decode_image(encode_png(g)) == g).all()
    # every other image format has no decoder: it reaches the boundary
    for build in (gif_bytes, bmp_bytes, tiff_bytes, jpeg_bytes, webp_bytes):
        with pytest.raises(NotImplementedError, match="PNG only"):
            _decode_image(build(6, 8))
    # wholly unknown formats keep the NotImplementedError boundary
    with pytest.raises(NotImplementedError):
        _decode_image(b"\x00\x01\x02not-an-image")


def test_decode_resize_images_mixed_formats(spark):
    """Spark end-to-end through the shared decode->resize operator: a PNG
    resizes, a truncated PNG and a BMP land in the error column."""
    import hashlib

    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        bmp_bytes,
    )
    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        resize_array,
    )
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        decode_resize_images,
    )

    rgb = rng.randint(0, 256, size=(30, 20, 3), dtype=np.uint8)
    rows = [
        (0, bytearray(encode_png(rgb))),
        (1, bytearray(encode_png(rgb)[:30])),
        (2, bytearray(bmp_bytes(20, 30))),
    ]
    df = spark.createDataFrame(rows, "item_id long, payload binary")
    got = {r.item_id: r for r in
           decode_resize_images(df, target_w=10, target_h=10).collect()}
    exp = resize_array(rgb, 10, 10)
    assert got[0].resized_sha1 == hashlib.sha1(exp.tobytes()).hexdigest()
    assert got[0].error is None
    assert got[1].error and got[1].error.startswith("PngError")
    assert got[2].error and got[2].error.startswith("NotImplementedError")
    assert got[1].resized_sha1 is None and got[2].resized_sha1 is None
