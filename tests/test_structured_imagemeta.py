"""Image-header metadata, image preprocessing and DOCX runs.

Reference roles: image/__init__.py size probing (header fields replace
the PIL read), resize and binarization.
"""

from __future__ import annotations

import struct

from hypothesis import given
from hypothesis import strategies as st

from intelligent_document_processing_on_aws_spark.kernels.image_meta import (
    gif_size,
    image_size,
    jpeg_size,
    png_size,
)

# ---------------------------------------------------------------------------
# image header metadata
# ---------------------------------------------------------------------------


def _png(w: int, h: int) -> bytes:
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 8)


def _jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x00\x00\x00"
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def test_png_header():
    assert png_size(_png(640, 480)) == (640, 480)
    assert image_size(_png(1, 99999)) == (1, 99999)
    assert png_size(b"\x89PNG\r\n\x1a\nXXXX") is None  # truncated
    assert png_size(_png(0, 10)) is None


def test_jpeg_header_walks_markers():
    assert jpeg_size(_jpeg(1024, 768)) == (1024, 768)
    # progressive (SOF2)
    prog = _jpeg(320, 200).replace(b"\xff\xc0", b"\xff\xc2")
    assert jpeg_size(prog) == (320, 200)
    # DHT (C4) must not be mistaken for SOF
    dht_first = (b"\xff\xd8" + b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"
                 + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
                 + struct.pack(">HH", 10, 20) + b"\x01\x00\x00\x00")
    assert jpeg_size(dht_first) == (20, 10)
    assert jpeg_size(b"\xff\xd8\xff\xd9") is None  # no SOF
    assert jpeg_size(b"not a jpeg") is None


def test_gif_header():
    assert gif_size(_gif(12, 34)) == (12, 34)
    assert gif_size(b"GIF89a\x00") is None


@given(st.binary(max_size=64))
def test_property_image_size_never_raises(data):
    image_size(data)


def test_probe_image_meta_operator(spark):
    """Spark-side: meta.width/height come from the payload header; video
    rows and unparseable images keep their fixture meta."""
    from intelligent_document_processing_on_aws_spark.operators.multimodal import (
        probe_image_meta,
    )

    rows = [
        (1, "image", _png(99, 44), None),
        (2, "image", _jpeg(320, 240), {"width": 1, "height": 1}),
        (3, "image", b"corrupt", {"width": 7, "height": 8}),
        (4, "video", _png(5, 5), {"width": 3, "height": 2}),
    ]
    df = spark.createDataFrame(
        rows,
        "item_id long, modality string, payload binary, "
        "meta struct<width:int, height:int>",
    )
    out = {r.item_id: r.meta for r in probe_image_meta(df).collect()}
    assert (out[1].width, out[1].height) == (99, 44)
    assert (out[2].width, out[2].height) == (320, 240)
    assert (out[3].width, out[3].height) == (7, 8)  # unparseable: unchanged
    assert (out[4].width, out[4].height) == (3, 2)  # video untouched


# ---------------------------------------------------------------------------
# pixel-level image ops (image/__init__.py math, array-level)
# ---------------------------------------------------------------------------


def test_resize_array_fit_within_math():
    import numpy as np

    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        resize_array,
    )

    img = np.arange(200 * 100 * 3, dtype=np.uint8).reshape(100, 200, 3)
    # fits already -> unchanged object semantics (same array back)
    assert resize_array(img, 400, 300) is img
    # either target None -> unchanged
    assert resize_array(img, None, 50) is img
    # downscale: scale = min(100/200, 80/100) = 0.5 -> 100x50
    out = resize_array(img, 100, 80)
    assert out.shape == (50, 100, 3)
    # upscale only when allowed: scale = min(400/200, 300/100) = 2
    assert resize_array(img, 400, 300, allow_upscale=True).shape == (200, 400, 3)
    # grayscale 2-D path
    g = np.full((40, 60), 128, dtype=np.uint8)
    assert resize_array(g, 30, 30).shape == (20, 30)


def test_resize_array_preserves_constant_and_gradient():
    import numpy as np

    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        resize_array,
    )

    const = np.full((64, 64), 77, dtype=np.uint8)
    assert (resize_array(const, 32, 32) == 77).all()
    # a horizontal gradient stays monotonic after bilinear downscale
    grad = np.tile(np.arange(0, 256, 4, dtype=np.uint8), (16, 1))
    out = resize_array(grad, 16, 16)
    assert (np.diff(out[0].astype(int)) >= 0).all()


def test_adaptive_binarize_semantics():
    import numpy as np

    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        adaptive_binarize_array,
        box_mean,
    )

    # uniform background: pixel == local mean -> pixel > mean - C -> all 255
    flat = np.full((40, 40), 200, dtype=np.uint8)
    assert (adaptive_binarize_array(flat) == 255).all()
    # dark stroke on light background: stroke pixels fall below mean - C
    img = np.full((41, 41), 220, dtype=np.uint8)
    img[20, 5:36] = 10  # horizontal stroke
    out = adaptive_binarize_array(img)
    assert (out[20, 10:30] == 0).all()          # stroke binarized to black
    assert (out[5, :] == 255).all()             # background stays white
    # box_mean exactness on a constant image (incl. edges)
    assert np.allclose(box_mean(flat.astype(float), 7), 200.0)


def test_grayscale_luma_matches_pil_formula():
    import numpy as np

    from intelligent_document_processing_on_aws_spark.kernels.image_ops import (
        to_grayscale,
    )

    rgb = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]]],
                   dtype=np.uint8)
    # PIL 'L': (R*299 + G*587 + B*114) // 1000
    assert to_grayscale(rgb).tolist() == [[76, 149, 29, 255]]


def test_docx_tab_break_and_hyperlink_runs():
    """<w:tab/> -> \\t, <w:br/> -> \\n inside runs (python-docx run.text
    parity); hyperlink-wrapped runs keep their text; w:pPr/w:tabs tab
    STOPS contribute nothing."""
    import io
    import zipfile

    from intelligent_document_processing_on_aws_spark.kernels.office import (
        docx_to_parts,
    )

    doc_xml = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        "<w:p>"
        "<w:pPr><w:tabs><w:tab w:val='left' w:pos='720'/></w:tabs></w:pPr>"
        "<w:r><w:t>name</w:t><w:tab/><w:t>value</w:t></w:r>"
        "</w:p>"
        "<w:p><w:r><w:t>line one</w:t><w:br/><w:t>line two</w:t></w:r></w:p>"
        "<w:p><w:hyperlink><w:r><w:t>linked text</w:t></w:r></w:hyperlink></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("word/document.xml", doc_xml)
    parts = docx_to_parts(buf.getvalue())
    assert parts[0] == "name\tvalue"
    assert parts[1] == "line one\nline two"
    assert parts[2] == "linked text"


def test_bmp_tiff_webp_header_sizes():
    """Round-4 formats: generator headers vs kernel parsers, all variants
    (BMP top-down negative height, both TIFF byte orders, three WEBP
    container shapes), plus malformed-input None contracts."""
    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        bmp_bytes,
        tiff_bytes,
        webp_bytes,
    )
    from intelligent_document_processing_on_aws_spark.kernels.image_meta import (
        bmp_size,
        image_size,
        tiff_size,
        webp_size,
    )

    for w, h in [(1, 1), (2, 3), (499, 399), (640, 480), (1023, 767)]:
        assert bmp_size(bmp_bytes(w, h)) == (w, h), ("bmp", w, h)
        assert tiff_size(tiff_bytes(w, h)) == (w, h), ("tiff", w, h)
        assert webp_size(webp_bytes(w, h)) == (w, h), ("webp", w, h)
        for payload in (bmp_bytes(w, h), tiff_bytes(w, h), webp_bytes(w, h)):
            assert image_size(payload) == (w, h)
    assert bmp_size(b"BM" + b"\x00" * 10) is None
    assert tiff_size(b"II*\x00\x08\x00\x00") is None  # truncated IFD offset
    assert webp_size(b"RIFF\x04\x00\x00\x00WEBP") is None
    assert image_size(b"") is None
