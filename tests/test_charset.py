"""kernels/charset — WHATWG-style sniff chain unit + property tests.

The Spark-level parity (query vs construction-derived golden) runs in the
oracle sweep; these tests pin the chain's precedence rules, the WHATWG
windows-1252 hole bytes, and no-crash totality on arbitrary bytes.
"""

import random

import pytest

from intelligent_document_processing_on_aws_spark.fixtures.charset_gen import (
    FAMILIES,
    gen_charset_docs,
)
from intelligent_document_processing_on_aws_spark.kernels.charset import (
    decode_windows1252,
    sniff_decode,
)


def test_bom_beats_declared_meta():
    html = '<html><head><meta charset="iso-8859-1"></head><body>café</body></html>'
    raw = b"\xef\xbb\xbf" + html.encode("utf-8")
    r = sniff_decode(raw)
    assert (r.encoding, r.source) == ("utf-8", "bom")
    assert r.text == html


def test_utf32_bom_checked_before_utf16():
    # UTF-32-LE BOM (FF FE 00 00) starts with the UTF-16-LE BOM (FF FE)
    s = "abc def"
    raw = b"\xff\xfe\x00\x00" + s.encode("utf-32-le")
    r = sniff_decode(raw)
    assert (r.encoding, r.source, r.text) == ("utf-32-le", "bom", s)


def test_declared_latin1_is_windows_1252():
    # the WHATWG alias mapping: declared latin-1, emitted cp1252 bytes
    html = '<meta charset="ISO-8859-1"><p>price €5 — café</p>'
    raw = html.encode("cp1252")
    r = sniff_decode(raw)
    assert (r.encoding, r.source) == ("windows-1252", "declared")
    assert r.text == html


def test_declared_legacy_multibyte():
    html = "<meta charset=Shift_JIS><p>日本語</p>"
    r = sniff_decode(html.encode("shift_jis"))
    assert (r.encoding, r.source, r.text) == ("shift_jis", "declared", html)


def test_unknown_label_falls_through_to_utf8():
    html = '<meta charset="x-klingon-8"><p>café</p>'
    r = sniff_decode(html.encode("utf-8"))
    assert (r.encoding, r.source, r.text) == ("utf-8", "utf-8", html)


def test_lying_declaration_falls_through():
    # declares sjis but the bytes are not valid shift_jis -> strict decode
    # fails -> chain continues to UTF-8. (Most accented-latin UTF-8 is
    # coincidentally *valid* shift_jis katakana, so use NBSP: its UTF-8
    # form C2 A0 ends in 0xA0, a hole in the sjis single-byte range.)
    html = "<meta charset=shift_jis><p>a b</p>"
    raw = html.encode("utf-8")
    with pytest.raises(UnicodeDecodeError):
        raw.decode("shift_jis")
    r = sniff_decode(raw)
    assert (r.encoding, r.source, r.text) == ("utf-8", "utf-8", html)


def test_bomless_utf16_beats_nul_riddled_utf8():
    # UTF-16-LE ASCII is *valid* UTF-8 (NUL codepoints) — the parity
    # heuristic must claim it first
    html = "<html><body><p>plain ascii text here</p></body></html>"
    raw = html.encode("utf-16-le")
    raw.decode("utf-8")  # proves the UTF-8 trap exists
    r = sniff_decode(raw)
    assert (r.encoding, r.source, r.text) == ("utf-16-le", "utf-16-heuristic", html)
    rb = sniff_decode(html.encode("utf-16-be"))
    assert (rb.encoding, rb.source, rb.text) == ("utf-16-be", "utf-16-heuristic", html)


def test_fallback_windows1252_total():
    raw = "café — €9".encode("cp1252")
    with pytest.raises(UnicodeDecodeError):
        raw.decode("utf-8")
    r = sniff_decode(raw)
    assert (r.encoding, r.source) == ("windows-1252", "fallback")
    assert r.text == "café — €9"


def test_whatwg_hole_bytes_keep_c1_controls():
    # cp1252 leaves 81 8D 8F 90 9D undefined; WHATWG decodes them as C1
    raw = bytes([0x41, 0x81, 0x8D, 0x8F, 0x90, 0x9D, 0x42])
    assert decode_windows1252(raw) == "A\x81\x8d\x8f\x90\x9dB"
    # and the curly-quote block still maps through cp1252
    assert decode_windows1252(b"\x93hi\x94") == "“hi”"


def test_empty_and_total_on_fuzz():
    r = sniff_decode(b"")
    assert (r.encoding, r.text) == ("utf-8", "")
    rng = random.Random(99)
    for _ in range(500):
        raw = bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
        a, b = sniff_decode(raw), sniff_decode(raw)
        assert isinstance(a.text, str)
        assert (a.encoding, a.source, a.text) == (b.encoding, b.source, b.text)


def test_generator_goldens_roundtrip():
    docs = gen_charset_docs(len(FAMILIES) * 4)
    for d in docs:
        r = sniff_decode(d["raw"])
        assert (r.encoding, r.source, r.text) == (
            d["encoding"], d["source"], d["text"]), d["family"]


def test_filetype_routes_legacy_encoded_html():
    from intelligent_document_processing_on_aws_spark.kernels import filetype

    html = '<html><head><meta charset="iso-8859-1"></head><body><p>café — €5</p></body></html>'
    ctype, text = filetype.detect_content_type_and_text(html.encode("cp1252"))
    assert (ctype, text) == ("html", html)
    # BOM'd UTF-16 HTML also reaches the html route
    ctype2, text2 = filetype.detect_content_type_and_text(
        b"\xff\xfe" + html.encode("utf-16-le"))
    assert (ctype2, text2) == ("html", html)
    # binary junk stays unknown (the looks-like-text gate)
    assert filetype.detect_content_type_and_text(bytes(range(256)) * 4)[0] == "unknown"
    assert filetype.detect_content_type_and_text(b"\xff\xfe\x00binary")[0] == "unknown"


def test_extract_page_legacy_encoded_end_to_end():
    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page_safe,
    )

    body = "café prices rose by €9 over the naïve baseline — a résumé"
    html = ("<html><head><meta charset=windows-1252><title>t</title></head>"
            f"<body><article><p>{body}</p></article></body></html>")
    ctype, res, err = extract_page_safe(html.encode("cp1252"))
    assert err is None and ctype == "html"
    assert body in res.extracted_text


def test_declared_utf16_label_not_honored():
    """WHATWG: a DECLARED utf-16 label maps to UTF-8 in the prescan —
    honoring it turned any 8-bit page lying <meta charset=utf-16> into
    silent CJK mojibake (UTF-16-LE decode almost never fails). Real
    UTF-16 still arrives via the BOM and NUL-parity steps."""
    page = b'<html><meta charset="utf-16"><body>plain ascii</body></html>'
    r = sniff_decode(page)
    assert r.encoding == "utf-8" and "plain ascii" in r.text
    # BOM and parity detection are unaffected
    html = "<html>hello utf sixteen page body text</html>"
    bom = sniff_decode(b"\xff\xfe" + html.encode("utf-16-le"))
    assert (bom.encoding, bom.source) == ("utf-16-le", "bom")
