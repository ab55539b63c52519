"""Real %PDF parsing, CSV routing, and hardened-OOXML decode tests.

Fixture policy: goldens are computed from template data by the generators
(realpdf_gen / csv_gen / office_gen), independent of the kernels under
test; hand-written operator streams below pin individual PDF text-operator
semantics (reference role: ocr/service.py:1144-1252 PDF ingestion,
document_converter.py:113-162 CSV conversion).
"""

from __future__ import annotations

import json
import zlib

from intelligent_document_processing_on_aws_spark.fixtures.csv_gen import gen_csv_docs
from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
    build_pdf,
    gen_real_pdf,
)
from intelligent_document_processing_on_aws_spark.kernels import filetype
from intelligent_document_processing_on_aws_spark.kernels.extract import (
    extract_page,
    extract_page_safe,
)
from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
    extract_real_pdf,
    scan_objects,
    text_spans,
)

# ---------------------------------------------------------------------------
# real %PDF: generator round-trip (golden from template data)
# ---------------------------------------------------------------------------


def test_real_pdf_roundtrip_subset():
    n_err = 0
    for i in range(80):
        rec = gen_real_pdf(i)
        from intelligent_document_processing_on_aws_spark.kernels.extract import (
            extract_page_safe,
        )

        ctype, res, err = extract_page_safe(rec["html"], rec["url"])
        assert ctype == rec["content_type"], f"doc {i}"
        assert res.extracted_text == rec["extracted_text"], f"doc {i}"
        triples = [[s.start, s.end, s.block_id] for s in res.spans]
        assert json.dumps(triples, separators=(",", ":")) == rec["spans_json"]
        if ctype == "error":
            # the CID-font contract: LOUD degrade, named exception
            assert "UnsupportedFont" in err and res.confidence == 0.0
            n_err += 1
        else:
            assert err is None and res.confidence == 1.0
    assert n_err >= 1  # the corpus must exercise the CID boundary


def test_real_pdf_multipage_page_order():
    """Pages must come out in page-tree order, not object-number order."""
    import random

    checked = 0
    for seed in ("rpdf-2-42", "rpdf-7-42", "rpdf-11-42", "rpdf-13-42",
                 "rpdf-17-42"):
        rng = random.Random(seed)
        payload, golden = build_pdf(rng)
        if golden is None:  # CID doc: no golden text by contract
            continue
        assert extract_real_pdf(payload).extracted_text == "\n".join(golden)
        checked += 1
    assert checked >= 3


# ---------------------------------------------------------------------------
# real %PDF: pinned text-operator semantics (hand-written streams)
# ---------------------------------------------------------------------------


def _spans_text(stream: bytes) -> list[str]:
    return [s["text"] for s in text_spans(stream, 1)]


def test_tj_array_concatenates_ignoring_kerns():
    ops = b"BT /F1 12 Tf 72 700 Td [(he) -30 (llo) 12 ( wor) -5 (ld)] TJ ET"
    assert _spans_text(ops) == ["hello world"]


def test_literal_string_escapes():
    ops = rb"BT 72 700 Td (a\(b\)c \\ \110i \n) Tj ET"
    assert _spans_text(ops) == ["a(b)c \\ Hi \n"]


def test_nested_balanced_parens_unescaped():
    ops = b"BT 72 700 Td (outer (inner) tail) Tj ET"
    assert _spans_text(ops) == ["outer (inner) tail"]


def test_hex_string_with_whitespace():
    ops = b"BT 72 700 Td <68 65\n6C6C 6F> Tj ET"
    assert _spans_text(ops) == ["hello"]


def test_quote_operators_advance_lines():
    ops = (b"BT /F1 12 Tf 72 720 Td 18 TL (l1) Tj (l2) ' 2 0 (l3) \" ET")
    spans = text_spans(ops, 1)
    assert [s["text"] for s in spans] == ["l1", "l2", "l3"]
    ys = [s["y"] for s in spans]
    assert ys == sorted(ys) and len(set(ys)) == 3  # descending page y


def test_tm_sets_absolute_position():
    ops = b"BT 1 0 0 1 50 100 Tm (low) Tj ET BT 1 0 0 1 50 700 Tm (high) Tj ET"
    res_lines = [s["text"] for s in sorted(text_spans(ops, 1), key=lambda s: s["y"])]
    assert res_lines == ["high", "low"]


def test_comment_skipped_but_not_inside_string():
    ops = b"% leading comment\nBT 72 700 Td (100% pure) Tj ET % trailing"
    assert _spans_text(ops) == ["100% pure"]


def test_inline_dict_and_graphics_noise_ignored():
    ops = (b"q 0.5 g 10 10 50 20 re f Q << /Noise true >> "
           b"BT 72 700 Td (kept) Tj ET")
    assert _spans_text(ops) == ["kept"]


def test_name_token_never_shown():
    ops = b"BT /F1 12 Tf 72 700 Td /NotText (real) Tj ET"
    assert _spans_text(ops) == ["real"]


def test_indirect_length_and_flate(tmp_path=None):
    """Stream whose /Length is an indirect ref + FlateDecode; data ends in
    an EOL byte (the case a naive endstream-EOL-strip corrupts)."""
    content = b"BT 72 700 Td (flate ok) Tj ET"
    data = zlib.compress(content)
    assert True  # construction below embeds data verbatim
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
        + data + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(data)).encode() + b"\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "flate ok"


def test_corrupt_pdfs_contained():
    """Malformed real PDFs degrade per-row, never crash."""
    cases = [
        b"%PDF-1.4\ngarbage no objects",
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n",  # no pages
        # truncated flate stream
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 9999 /Filter /FlateDecode >>\nstream\n\x78\x9c\x01"
        b"\nendstream\nendobj\n",
        gen_real_pdf(0)["html"][:200],  # hard truncation
    ]
    for payload in cases:
        ctype, res, err = extract_page_safe(payload)
        assert ctype in ("pdf", "error")
        if ctype == "error":
            assert err
        else:
            assert isinstance(res.extracted_text, str)


def test_scan_objects_ignores_stale_xref():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        expand_object_streams,
    )

    rec = gen_real_pdf(3)
    objs = scan_objects(rec["html"])
    expand_object_streams(objs)
    # catalog + pages reachable by linear scan (+ ObjStm expansion when
    # the fixture drew the 1.5 layout), never via xref offsets
    assert 1 in objs and 2 in objs


# ---------------------------------------------------------------------------
# PDF 1.5: object streams, xref streams, predictors (round-3 additions)
# ---------------------------------------------------------------------------


def _objstm_pdf(packed: bytes, n: int, first: int, extra_head: bytes = b"",
                content: bytes = b"BT 72 700 Td (packed ok) Tj ET") -> bytes:
    """Minimal PDF whose catalog/pages/page dicts live only in an ObjStm."""
    return (
        b"%PDF-1.5\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /ObjStm /N " + str(n).encode() + b" /First "
        + str(first).encode() + b" /Length " + str(len(packed)).encode()
        + extra_head + b" >>\nstream\n" + packed + b"\nendstream\nendobj\n"
        b"startxref\n0\n%%EOF\n"
    )


def _objstm_payload() -> tuple[bytes, int, int]:
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>\n",
        b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\n",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n",
    ]
    offs, data = [], b""
    for b in bodies:
        offs.append(len(data))
        data += b
    header = (" ".join(f"{n} {o}" for n, o in zip((1, 2, 3), offs)) + "\n").encode()
    return header + data, 3, len(header)


def test_objstm_raw_payload_pages_found():
    payload, n, first = _objstm_payload()
    pdf = _objstm_pdf(payload, n, first)
    assert extract_real_pdf(pdf).extracted_text == "packed ok"


def test_objstm_flate_payload():
    payload, n, first = _objstm_payload()
    pdf = _objstm_pdf(zlib.compress(payload), n, first,
                      extra_head=b" /Filter /FlateDecode")
    assert extract_real_pdf(pdf).extracted_text == "packed ok"


def test_objstm_predictor_payload():
    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _png_predict_up,
    )

    payload, n, first = _objstm_payload()
    cols = 8
    payload += b" " * ((-len(payload)) % cols)
    enc = zlib.compress(_png_predict_up(payload, cols))
    pdf = _objstm_pdf(
        enc, n, first,
        extra_head=(b" /Filter /FlateDecode /DecodeParms "
                    b"<< /Predictor 12 /Columns 8 >>"),
    )
    assert extract_real_pdf(pdf).extracted_text == "packed ok"


def test_objstm_toplevel_definition_wins():
    """Repair-mode precedence: a top-level redefinition (incremental
    update) shadows the same-numbered ObjStm copy."""
    payload, n, first = _objstm_payload()
    pdf = _objstm_pdf(payload, n, first)
    # append an updated page 3 pointing at a new content stream 6
    newc = b"BT 72 700 Td (updated) Tj ET"
    pdf += (
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(newc)).encode() + b" >>\nstream\n"
        + newc + b"\nendstream\nendobj\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "updated"


def test_objstm_corrupt_contained():
    """Truncated/garbage ObjStm payloads degrade, never crash."""
    payload, n, first = _objstm_payload()
    for bad in (
        _objstm_pdf(zlib.compress(payload)[:5], n, first,
                    extra_head=b" /Filter /FlateDecode"),  # truncated flate
        _objstm_pdf(payload, n, 10 ** 6),  # /First beyond data
        _objstm_pdf(b"", 0, 0),  # empty
    ):
        ctype, res, err = extract_page_safe(bad)
        assert ctype in ("pdf", "error")


def test_png_unpredict_all_filter_types():
    """Kernel decode inverts an independent encoder for every PNG filter
    type (0,1,2,3,4), per-row."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        png_unpredict,
    )

    raw = bytes(range(7, 47))  # 5 rows x 8 cols
    cols = 8
    rows = [raw[r:r + cols] for r in range(0, len(raw), cols)]
    enc = bytearray()
    prev = bytes(cols)
    for ft, row in zip((0, 1, 2, 3, 4), rows):
        enc.append(ft)
        for i in range(cols):
            a = row[i - 1] if i > 0 else 0
            b = prev[i]
            c = prev[i - 1] if i > 0 else 0
            if ft == 0:
                v = row[i]
            elif ft == 1:
                v = (row[i] - a) & 0xFF
            elif ft == 2:
                v = (row[i] - b) & 0xFF
            elif ft == 3:
                v = (row[i] - (a + b) // 2) & 0xFF
            else:
                p = a + b - c
                pa_, pb_, pc_ = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa_ <= pb_ and pa_ <= pc_) else (b if pb_ <= pc_ else c)
                v = (row[i] - pred) & 0xFF
            enc.append(v)
        prev = row
    assert png_unpredict(bytes(enc), 12, cols) == raw
    assert png_unpredict(raw, 1, cols) == raw  # predictor 1 = identity


def test_objstm_fixture_family_present_and_green():
    """The committed corpus actually exercises the 1.5 layout: a healthy
    share of fixtures are ObjStm/XRef-stream files, and every one
    extracts byte-identical to its construction golden."""
    n_objstm = 0
    for i in range(0, 400, 7):
        rec = gen_real_pdf(i)
        if rec["content_type"] == "error":  # CID doc: no golden text
            continue
        if b"/ObjStm" in rec["html"]:
            n_objstm += 1
            assert b"/Type /XRef" in rec["html"]
            assert rec["html"].startswith(b"%PDF-1.5")
            res = extract_real_pdf(rec["html"])
            assert res.extracted_text == rec["extracted_text"], f"doc {i}"
    assert n_objstm >= 10


# ---------------------------------------------------------------------------
# ToUnicode CMaps (round-3)
# ---------------------------------------------------------------------------


def test_parse_tounicode_all_section_forms():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        parse_tounicode,
    )

    cmap = b"""
    1 begincodespacerange
    <00> <ff>
    endcodespacerange
    2 beginbfchar
    <01> <0020>
    <02> <00E9>
    endbfchar
    2 beginbfrange
    <40> <42> <0061>
    <50> <52> [<005A> <0059> <0058>]
    endbfrange
    """
    width, m = parse_tounicode(cmap)
    assert width == 1
    assert m[0x01] == " " and m[0x02] == "é"
    assert (m[0x40], m[0x41], m[0x42]) == ("a", "b", "c")
    assert (m[0x50], m[0x51], m[0x52]) == ("Z", "Y", "X")
    # 2-byte codespace
    width2, m2 = parse_tounicode(
        b"1 begincodespacerange <0000> <ffff> endcodespacerange "
        b"1 beginbfchar <0141> <0041> endbfchar"
    )
    assert width2 == 2 and m2[0x141] == "A"


def test_decode_pdf_string_fallback_and_width():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        decode_pdf_string,
    )

    assert decode_pdf_string(b"plain", None) == "plain"
    cmap1 = (1, {0x01: "H", 0x02: "i"})
    assert decode_pdf_string(b"\x01\x02", cmap1) == "Hi"
    # unmapped code falls back to its latin-1 reading
    assert decode_pdf_string(b"\x01Q", cmap1) == "HQ"
    cmap2 = (2, {0x0101: "O", 0x0102: "k"})
    assert decode_pdf_string(b"\x01\x01\x01\x02", cmap2) == "Ok"


def test_cmap_font_beats_latin1_misread():
    """A subsetted font whose codes collide with ASCII letters: the CMap
    reading must win — latin-1 would silently produce WRONG text, not an
    error (the exact failure class this closes)."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    # code 0x41 ('A' in latin-1) maps to 'Z'; 0x42 -> 'o'
    cmap = (b"1 begincodespacerange <00> <ff> endcodespacerange\n"
            b"2 beginbfchar <41> <005A> <42> <006F> endbfchar")
    content = b"BT /F2 12 Tf 72 700 Td <4142> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R "
        b"/Resources << /Font << /F2 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /ToUnicode 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "Zo"  # latin-1 says "AB"


def test_font_without_cmap_stays_latin1():
    """Standard unembedded fonts (no ToUnicode) keep byte-literal latin-1
    decoding — the pre-CMap behavior, still correct for them."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        text_spans,
    )

    ops = b"BT /F1 12 Tf 72 700 Td <4142> Tj ET"
    assert [s["text"] for s in text_spans(ops, 1, fontmaps={})] == ["AB"]


def test_cmap_fixture_family_present_and_green():
    n_cmap = 0
    for i in range(0, 400, 5):
        rec = gen_real_pdf(i)
        if rec["content_type"] == "error":  # CID doc: no golden text
            continue
        if b"/ToUnicode" in rec["html"]:
            n_cmap += 1
            assert extract_real_pdf(rec["html"]).extracted_text == \
                rec["extracted_text"], f"doc {i}"
    assert n_cmap >= 10


# ---------------------------------------------------------------------------
# TJ word-gap heuristic (round-3)
# ---------------------------------------------------------------------------


def test_tj_word_gap_differential_vs_explicit_spaces():
    """A PDF encoding inter-word spaces ONLY via TJ adjustments extracts
    byte-identical to its explicit-space twin."""
    gap_ops = b"BT /F1 12 Tf 72 700 Td [(alpha) -333 (beta) -250 (gamma)] TJ ET"
    explicit_ops = b"BT /F1 12 Tf 72 700 Td (alpha beta gamma) Tj ET"
    assert _spans_text(gap_ops) == _spans_text(explicit_ops) == ["alpha beta gamma"]


def test_tj_small_kerns_still_concatenate():
    ops = b"BT 72 700 Td [(ke) -30 (rn) -179 (ed)] TJ ET"
    assert _spans_text(ops) == ["kerned"]


def test_tj_gap_threshold_boundary():
    ops = b"BT 72 700 Td [(a) -180 (b)] TJ ET"
    assert _spans_text(ops) == ["a b"]
    ops = b"BT 72 700 Td [(a) -179.9 (b)] TJ ET"
    assert _spans_text(ops) == ["ab"]


def test_tj_gap_no_stray_padding():
    """Leading/trailing adjustments and explicit spaces never double up."""
    ops = b"BT 72 700 Td [-400 (a ) -400 ( b) -400] TJ ET"
    assert _spans_text(ops) == ["a  b"]  # explicit spaces kept, no extra
    ops2 = b"BT 72 700 Td [(a) -400 (b) -500] TJ ET"
    assert _spans_text(ops2) == ["a b"]


def test_tj_positive_adjustments_never_gap():
    ops = b"BT 72 700 Td [(a) 400 (b)] TJ ET"
    assert _spans_text(ops) == ["ab"]


# ---------------------------------------------------------------------------
# CSV routing + decode
# ---------------------------------------------------------------------------


def test_csv_roundtrip_subset():
    for d in gen_csv_docs(60):
        ctype, res = extract_page(d["payload"], d["name"])
        assert ctype == "csv", f"doc {d['doc_id']} routed to {ctype}"
        assert res.extracted_text == d["extracted_text"], f"doc {d['doc_id']}"


def test_csv_extension_hint_routes():
    payload = b"single column\njust words here\nno commas at all"
    assert filetype.detect_content_type_and_text(payload, "data.csv")[0] == "csv"
    assert filetype.detect_content_type_and_text(payload, "data.txt")[0] == "text"
    assert filetype.detect_content_type_and_text(payload)[0] == "text"


def test_csv_sniff_consistent_columns_only():
    assert filetype.detect_content_type_and_text(b"a,b,c\n1,2,3\n4,5,6")[0] == "csv"
    # prose with commas: inconsistent field counts -> text
    prose = (b"We came, we saw, we left early.\n"
             b"It rained all day.\n"
             b"Coffee, tea.")
    assert filetype.detect_content_type_and_text(prose)[0] == "text"
    # single line -> text
    assert filetype.detect_content_type_and_text(b"a,b,c")[0] == "text"


def test_csv_quoted_fields_and_empty_cells():
    payload = b'name,qty\n"smith, j",3\n"say ""hi""",\n'
    ctype, res = extract_page(payload, "x.csv")
    assert ctype == "csv"
    assert '| smith, j | 3 |' in res.extracted_text
    assert '| say "hi" |  |' in res.extracted_text


# ---------------------------------------------------------------------------
# hardened OOXML decode
# ---------------------------------------------------------------------------


def test_xlsx_sparse_cells_keep_column_alignment():
    """Omitted cells (standard OOXML sparse encoding) must not shift later
    columns: value with r="C2" lands in column 2 even when A2/B2 are absent."""
    import io
    import zipfile

    from intelligent_document_processing_on_aws_spark.kernels.office import (
        xlsx_to_sheets,
    )

    S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml",
                    f'<workbook xmlns="{S}"><sheets>'
                    f'<sheet name="X" sheetId="1"/></sheets></workbook>')
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{S}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
            '<c r="B1" t="inlineStr"><is><t>b</t></is></c>'
            '<c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
            '<row r="2"><c r="C2"><v>9</v></c></row>'
            "</sheetData></worksheet>")
    sheets = xlsx_to_sheets(buf.getvalue())
    assert sheets == {"X": [["a", "b", "c"], ["", "", "9"]]}


def test_xlsx_sheet_order_via_rels_10_plus_sheets():
    """sheet10.xml sorts before sheet2.xml lexicographically; the rels
    r:id mapping must keep workbook order regardless."""
    from intelligent_document_processing_on_aws_spark.fixtures.office_gen import (
        gen_office_doc,
    )
    from intelligent_document_processing_on_aws_spark.kernels.office import (
        xlsx_to_sheets,
    )

    d = gen_office_doc(17)  # 11-sheet family (i % 16 == 1, odd -> xlsx)
    assert d["kind"] == "xlsx"
    sheets = xlsx_to_sheets(d["payload"])
    assert list(sheets) == [f"Data{k}" for k in range(1, 12)]
    ctype, res = extract_page(d["payload"])
    assert res.extracted_text == d["extracted_text"]


def test_office_generator_roundtrip_subset():
    from intelligent_document_processing_on_aws_spark.fixtures.office_gen import (
        gen_office_docs,
    )

    for d in gen_office_docs(40):
        ctype, res = extract_page(d["payload"])
        assert ctype == d["kind"]
        assert res.extracted_text == d["extracted_text"], f"doc {d['doc_id']}"


def test_image_magic_and_extension_detection():
    """Image payloads route to 'image' (reference keys jpg/png/gif/bmp/
    tiff/webp by extension, ocr/service.py:1657-1658; magic bytes are the
    stronger signal) and degrade to an empty no-text extraction."""
    import struct

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    assert filetype.detect_content_type_and_text(png)[0] == "image"
    assert filetype.detect_content_type_and_text(b"\xff\xd8\xff\xe0rest")[0] == "image"
    # ASCII magics (GIF/BM/TIFF/RIFF) only count for UNDECODABLE payloads —
    # real image bodies carry high bytes; see
    # test_ascii_image_magic_does_not_steal_text for the text-side rule
    assert filetype.detect_content_type_and_text(
        b"GIF89a" + struct.pack("<HH", 2, 2) + b"\x80\xff")[0] == "image"
    assert filetype.detect_content_type_and_text(b"BM" + b"\xff\xfe" * 5)[0] == "image"
    assert filetype.detect_content_type_and_text(b"II*\x00\xff\xfetiff")[0] == "image"
    assert filetype.detect_content_type_and_text(
        b"RIFF\x00\x00\x00\x00WEBPVP8 \xff\xfe")[0] == "image"
    # extension hint wins for decodable payloads
    assert filetype.detect_content_type_and_text(b"ascii bytes", "scan.tiff")[0] == "image"
    ctype, res, err = extract_page_safe(png, "x.png")
    assert ctype == "image" and res.extracted_text == "" and err is None


def test_ascii_image_magic_does_not_steal_text():
    """'BM'/'GIF89a' are plain ASCII; text or CSV starting with them must
    stay on the text path (image magic applies only to undecodable bytes)."""
    csv_payload = b"BMI,weight,height\n23,70,1.8\n25,80,1.8\n"
    assert filetype.detect_content_type_and_text(csv_payload, "stats.csv")[0] == "csv"
    assert filetype.detect_content_type_and_text(csv_payload)[0] == "csv"  # sniff path
    ctype, res = extract_page(csv_payload, "stats.csv")
    assert ctype == "csv" and "| BMI | weight | height |" in res.extracted_text
    assert filetype.detect_content_type_and_text(b"GIF89a is a file format spec")[0] == "text"
    assert filetype.detect_content_type_and_text(b"BMW makes cars and motorcycles")[0] == "text"
    # real binary payloads (never valid UTF-8 here) still route to image
    assert filetype.detect_content_type_and_text(b"BM\x00\x00\xff\xfe\x80\x81")[0] == "image"
    assert filetype.detect_content_type_and_text(b"GIF89a\x10\x00\x10\x00\x80\xff\x00")[0] == "image"


def test_pdf_table_layout_reconstruction():
    """x-aligned multi-column runs become pipe tables; prose with split
    runs (1-2 spans/line) never does (>=3 aligned columns required)."""
    from intelligent_document_processing_on_aws_spark.kernels.pdf_layout import (
        lines_to_blocks,
    )

    def line(y, cells):  # cells: [(x, text)]
        return [{"page": 1, "x": x, "y": y, "text": t} for x, t in cells]

    tbl = [
        line(10, [(72, "H1"), (182, "H2"), (292, "H3")]),
        line(28, [(72.5, "a"), (182.4, "b"), (292.1, "c")]),  # within tol
        line(46, [(72, "d"), (182, "e"), (292, "f")]),
    ]
    prose = [line(64, [(72, "just a sentence")]),
             line(82, [(72, "two"), (200, "spans")])]
    blocks = lines_to_blocks(tbl + prose)
    kinds = [k for k, _ in blocks]
    assert kinds == ["table", "text", "text"]
    assert len(blocks[0][1]) == 3  # all three aligned rows in one table
    # a single aligned line (no run) stays text
    one = lines_to_blocks([tbl[0]] + prose)
    assert [k for k, _ in one] == ["text", "text", "text"]
    # misaligned columns (beyond tolerance) break the run
    shifted = [tbl[0], line(28, [(72, "a"), (190, "b"), (292, "c")])]
    assert [k for k, _ in lines_to_blocks(shifted)] == ["text", "text"]


def test_real_pdf_table_page_golden():
    """End-to-end: a generated table page extracts as the frozen-spec pipe
    table (golden composed from the template rows)."""
    found = False
    for i in range(40):
        rec = gen_real_pdf(i)
        if "| Col1 |" in rec["extracted_text"]:
            found = True
            ctype, res = extract_page(rec["html"], rec["url"])
            assert res.extracted_text == rec["extracted_text"]
    assert found  # corpus must contain table pages


# ---------------------------------------------------------------------------
# property-based round-trips (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=255), max_size=60))
def test_property_pdf_literal_string_roundtrip(text):
    """escape -> tokenize recovers ANY latin-1 text (parens, backslashes,
    octal-triggering chars included)."""
    import random

    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _esc_literal,
    )

    esc = _esc_literal(text, random.Random(42))
    ops = f"BT 72 700 Td ({esc}) Tj ET".encode("latin-1")
    spans = text_spans(ops, 1)
    got = spans[0]["text"] if spans else ""
    assert got == text


@given(st.lists(
    st.lists(st.text(alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, exclude_characters="|"),
        max_size=12), min_size=2, max_size=5),
    min_size=2, max_size=6).filter(
        lambda rows: len({len(r) for r in rows}) == 1))
def test_property_csv_writer_reader_roundtrip(rows):
    """csv.writer output always parses back through the dispatch into a
    pipe table with one row per input row (quoting/escaping round-trips)."""
    import csv
    import io

    buf = io.StringIO()
    csv.writer(buf).writerows(rows)
    payload = buf.getvalue().encode()
    non_empty = [r for r in rows if any(c.strip() for c in r)]
    if len(non_empty) < 1 or not any(c.strip() for c in rows[0]):
        return  # header-less/empty corpora are out of contract
    ctype, res = extract_page(payload, "fuzz.csv")
    assert ctype == "csv"
    # one markdown row per non-blank csv row, plus the separator line
    md_rows = [ln for ln in res.extracted_text.split("\n") if ln.startswith("|")]
    assert len(md_rows) == len([r for r in rows if r]) + 1


def test_ocr_json_routes_through_dispatch():
    """A Textract-response payload (Blocks envelope or bare list) routes to
    the block-markdown kernel from the main dispatch; malformed block trees
    degrade to the plain LINE-text fallback (ocr/service.py:1580-1625)."""
    import json

    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page,
        extract_page_safe,
    )

    blocks = [
        {"BlockType": "PAGE", "Id": "p"},
        {"BlockType": "WORD", "Id": "w1", "Text": "hello"},
        {"BlockType": "LINE", "Id": "l1", "Text": "hello",
         "Geometry": {"BoundingBox": {"Top": 0.1, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["w1"]}]},
    ]
    for payload in (blocks, {"Blocks": blocks}):
        ctype, res = extract_page(json.dumps(payload).encode())
        assert ctype == "ocr_json"
        assert res.extracted_text == "hello"
        assert res.n_blocks == 1  # one PAGE block counted
    # geometry of a non-dict type forces the markdown path to raise ->
    # plain-text fallback keeps the LINE text
    bad = [{"BlockType": "TABLE", "Id": "t", "Geometry": {"BoundingBox": {"Top": "x"}},
            "Relationships": [{"Type": "CHILD", "Ids": ["c"]}]},
           {"BlockType": "CELL", "Id": "c", "RowIndex": 1, "ColumnIndex": 1},
           {"BlockType": "LINE", "Id": "l", "Text": "still here"}]
    ctype, res, err = extract_page_safe(json.dumps(bad).encode())
    assert ctype == "ocr_json" and err is None
    assert res.extracted_text == "still here"
    # null entries in the block list survive both ladder rungs
    noisy = blocks + [None, "junk"]
    ctype, res = extract_page(json.dumps(noisy).encode())
    assert ctype == "ocr_json" and res.extracted_text == "hello"
    # truncated JSON fails the shape validation -> plain text path, no crash
    ctype, _res, err = extract_page_safe(b'[{"BlockType": "LINE"')
    assert ctype == "text" and err is None
    # a JSON document that merely MENTIONS BlockType stays text with its
    # full content (no silent empty extraction)
    schema_doc = b'{"properties": {"BlockType": {"type": "string"}}}'
    ctype, res = extract_page(schema_doc)
    assert ctype == "text"
    assert "BlockType" in res.extracted_text


# ---------------------------------------------------------------------------
# Simple-font /Encoding (+/Differences) and the filter cascade (round-3)
# ---------------------------------------------------------------------------


def test_glyph_names_resolve():
    from intelligent_document_processing_on_aws_spark.kernels.pdf_encodings import (
        glyph_to_text,
    )

    assert glyph_to_text("quotesingle") == "'"
    assert glyph_to_text("emdash") == "—"
    assert glyph_to_text("Euro") == "€"
    assert glyph_to_text("fi") == "ﬁ"
    assert glyph_to_text("uni0041") == "A"
    assert glyph_to_text("u1F600") == "\U0001f600"
    assert glyph_to_text("a") == "a"
    assert glyph_to_text("nonexistentglyph") is None


def test_parse_encoding_winansi_and_differences():
    from intelligent_document_processing_on_aws_spark.kernels.pdf_encodings import (
        parse_encoding,
    )

    # bare-name form: WinAnsi differs from latin-1 exactly in 0x80-0x9F
    m = parse_encoding(b"/WinAnsiEncoding")
    assert m[0x93] == "“" and m[0x94] == "”"  # smart quotes
    assert m[0x80] == "€" and 0x41 not in m
    # dict form: base + Differences override
    enc = (b"<< /BaseEncoding /WinAnsiEncoding "
           b"/Differences [ 65 /emdash 66 /uni0042 200 /bullet /Euro ] >>")
    m = parse_encoding(enc)
    assert m[65] == "—"
    assert 66 not in m  # uni0042 = 'B' agrees with latin-1 -> no entry
    assert m[200] == "•" and m[201] == "€"  # consecutive codes
    assert m[0x93] == "“"  # base survives
    # MacRoman: 0xD5 is a curly quote, not latin-1 Otilde
    m = parse_encoding(b"/MacRomanEncoding")
    assert m[0xD5] == "’"
    # StandardEncoding / unknown: nothing differs
    assert parse_encoding(b"/StandardEncoding") is None


def test_font_with_differences_encoding_e2e():
    """A font with /Encoding /Differences but NO ToUnicode decodes through
    the glyph-name map; latin-1 would show the raw byte instead."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    # code 0x27 shown between words is /quoteright (TeX's apostrophe swap)
    content = b"BT /F3 12 Tf 72 700 Td (don\x27t stop) Tj ET"
    enc = b"<< /Differences [ 39 /quoteright ] >>"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R "
        b"/Resources << /Font << /F3 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding " + enc
        + b" >>\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "don’t stop"


def test_tounicode_beats_encoding_when_both_present():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        page_fontmaps,
        scan_objects,
    )

    cmap = (b"1 begincodespacerange <00> <ff> endcodespacerange\n"
            b"1 beginbfchar <41> <005A> endbfchar")
    pdf = (
        b"3 0 obj\n<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> "
        b">>\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Encoding /WinAnsiEncoding "
        b"/ToUnicode 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode() + b" >>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
    )
    fm = page_fontmaps(scan_objects(pdf), 3)
    width, mapping = fm["/F1"]
    assert mapping[0x41] == "Z" and 0x93 not in mapping


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal PDF-flavored LZW encoder (test-only) mirroring the decoder's
    width schedule: starts with a clear code, ends with EOD."""
    table = {bytes([i]): i for i in range(256)}
    size, width = 258, 9
    codes: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], width))
        table[wc] = size
        size += 1
        # the decoder's table add lags the encoder's by one code, so the
        # encoder widens one add later than its own size would suggest
        if size - 1 >= (1 << width) - early and width < 12:
            width += 1
        w = bytes([b])
    if w:
        codes.append((table[w], width))
    codes.append((257, width))
    bitbuf = bitcnt = 0
    out = bytearray()
    for code, cw in codes:
        bitbuf = (bitbuf << cw) | code
        bitcnt += cw
        while bitcnt >= 8:
            out.append((bitbuf >> (bitcnt - 8)) & 0xFF)
            bitcnt -= 8
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def test_lzw_roundtrip_and_kwkwk():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        lzw_decode,
    )

    for payload in (
        b"",
        b"a",
        b"abababababab",          # KwKwK pattern
        b"the quick brown fox " * 40,
        bytes(range(256)) * 6,    # forces 10-bit codes (width growth)
    ):
        assert lzw_decode(_lzw_encode(payload)) == payload


def test_lzw_property_roundtrip():
    import random

    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        lzw_decode,
    )

    rng = random.Random(42)
    for trial in range(20):
        n = rng.randrange(0, 4000)
        # skewed alphabet -> repeated phrases -> dictionary growth
        payload = bytes(rng.choice(b"abcde\n ") for _ in range(n))
        assert lzw_decode(_lzw_encode(payload)) == payload, f"trial {trial}"


def test_filter_cascade_ascii85_flate():
    """/Filter [ /ASCII85Decode /FlateDecode ] applies left-to-right."""
    import base64
    import zlib

    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (cascade works) Tj ET"
    armored = base64.a85encode(zlib.compress(content), adobe=True)[2:]  # strip <~
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(armored)).encode()
        + b" /Filter [ /ASCII85Decode /FlateDecode ] >>\nstream\n"
        + armored + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "cascade works"


def test_filter_asciihex():
    import binascii

    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (hex path) Tj ET"
    armored = binascii.hexlify(content) + b">"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(armored)).encode()
        + b" /Filter /ASCIIHexDecode >>\nstream\n"
        + armored + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "hex path"


def test_lzw_content_stream_e2e():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (lzw path) Tj ET"
    packed = _lzw_encode(content)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(packed)).encode()
        + b" /Filter /LZWDecode >>\nstream\n"
        + packed + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "lzw path"


def test_corrupt_lzw_and_a85_contained():
    """Garbage filter payloads must degrade to the error column, never
    raise out of the safe wrapper."""
    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page_safe,
    )

    for filt in (b"/LZWDecode", b"/ASCII85Decode", b"[ /ASCII85Decode /FlateDecode ]"):
        garbage = b"\xff\xfe\xfd\xfc not valid at all \x00\x01"
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length " + str(len(garbage)).encode()
            + b" /Filter " + filt + b" >>\nstream\n"
            + garbage + b"\nendstream\nendobj\n%%EOF\n"
        )
        ctype, res, err = extract_page_safe(pdf)
        # contained: either the error row shape or an empty-but-clean result
        assert ctype in ("pdf", "error")
        assert err is None or isinstance(err, str)


def test_inline_image_binary_never_fakes_text():
    """`BI ... ID <binary> EI`: the binary payload (which here contains
    byte sequences that look like a string show and a BT block) must be
    skipped wholesale; surrounding real text still extracts."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        text_spans,
    )

    fake = b"(phantom) Tj BT 1 0 0 1 9 9 Tm (ghost) Tj ET \xff\x00\xfe"
    content = (
        b"BT /F1 12 Tf 72 700 Td (before image) Tj ET\n"
        b"BI /W 4 /H 4 /BPC 8 /CS /RGB ID " + fake + b"\nEI\n"
        b"BT /F1 12 Tf 72 680 Td (after image) Tj ET"
    )
    texts = [s["text"] for s in text_spans(content, 1)]
    assert texts == ["before image", "after image"]


def test_inline_image_unterminated_contained():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        text_spans,
    )

    content = (
        b"BT /F1 12 Tf 72 700 Td (kept) Tj ET\n"
        b"BI /W 1 /H 1 ID \x00\x01\x02"  # no EI: rest of stream is image
    )
    assert [s["text"] for s in text_spans(content, 1)] == ["kept"]


# ---------------------------------------------------------------------------
# RC4 encryption (standard security handler) — round-3
# ---------------------------------------------------------------------------


def _encrypted_pdf(rev: int) -> bytes:
    import random

    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _serialize_classic_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (secret stays readable) Tj ET"
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
    }
    rng = random.Random(f"enc-{rev}")
    # pin revision via the serializer's draw: force by retrying seeds
    while True:
        objs = dict(objects)
        pdf = _serialize_classic_pdf(objs, encrypt_rng=rng)
        if f"/R {rev}".encode() in pdf:
            return pdf
        rng = random.Random(f"enc-{rev}-{rng.random()}")


def test_rc4_encrypted_pdf_extracts():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    for rev in (2, 3):
        pdf = _encrypted_pdf(rev)
        assert b"secret" not in pdf  # stream really is ciphertext
        assert extract_real_pdf(pdf).extracted_text == "secret stays readable"


def test_rc4_vectors_pinned():
    """RC4 itself against the public test vectors (RFC 6229 spot values)."""
    from intelligent_document_processing_on_aws_spark.kernels.pdf_crypt import rc4

    # classic 'Key'/'Plaintext' vector
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    assert rc4(b"Secret", b"Attack at dawn").hex() == "45a01f645fc35b383552544b9bf5"


def test_unsupported_encryption_errors_cleanly():
    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page_safe,
    )

    # AES (V4) document: must land in the error column, not garbage text
    pdf = (
        b"%PDF-1.6\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 4 >>\nstream\n\x01\x02\x03\x04\nendstream\nendobj\n"
        b"5 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 "
        b"/O <" + b"00" * 32 + b"> /U <" + b"00" * 32 + b"> "
        b"/CF << /StdCF << /CFM /AESV2 >> >> >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /ID [ <AABB> <AABB> ] >>\n"
        b"%%EOF\n"
    )
    ctype, res, err = extract_page_safe(pdf)
    assert ctype == "error" and "encryption" in (err or "").lower()


def test_encrypt_token_in_content_not_false_positive():
    """A page whose TEXT mentions /Encrypt must not trip detection —
    only trailer/XRef regions are searched."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (the /Encrypt 9 0 R entry) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    assert extract_real_pdf(pdf).extracted_text == "the /Encrypt 9 0 R entry"


def test_aes_encrypted_pdfs_extract():
    """AESV2 (V4/R4) and AES-256 (V5/R6) documents with an empty user
    password decrypt transparently; the ciphertext really hides the text."""
    import random

    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _serialize_classic_pdf,
    )
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (aes secret text) Tj ET"
    base = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
    }
    seen = set()
    trial = 0
    while seen != {"AESV2", "AESV3"} and trial < 200:
        rng = random.Random(f"aes-{trial}")
        trial += 1
        pdf = _serialize_classic_pdf(dict(base), encrypt_rng=rng)
        for marker in ("AESV2", "AESV3"):
            if f"/CFM /{marker}".encode() in pdf and marker not in seen:
                seen.add(marker)
                assert b"aes secret" not in pdf
                assert extract_real_pdf(pdf).extracted_text == "aes secret text", marker
    assert seen == {"AESV2", "AESV3"}


def test_hash_2b_round_structure():
    """Algorithm 2.B sanity: deterministic, 32 bytes, differs per salt and
    password (the iterated-AES structure is cross-checked end-to-end by
    the authored-U/UE round-trip in r6_file_key)."""
    from intelligent_document_processing_on_aws_spark.kernels.pdf_crypt import (
        hash_2b,
        r6_author_values,
        r6_file_key,
    )

    a = hash_2b(b"", b"saltsalt")
    assert len(a) == 32 and a == hash_2b(b"", b"saltsalt")
    assert a != hash_2b(b"", b"other--salt") and a != hash_2b(b"pw", b"saltsalt")
    key = bytes(range(32))
    u, ue = r6_author_values(key, b"")
    assert r6_file_key(u, ue, b"") == key
    # wrong (non-empty) user password must be rejected, not mis-decrypt
    import pytest

    from intelligent_document_processing_on_aws_spark.kernels.pdf_crypt import (
        UnsupportedEncryption,
    )
    with pytest.raises(UnsupportedEncryption):
        r6_file_key(u, ue, b"wrong")


# ---------------------------------------------------------------------------
# round-4 ADVICE hardening: /Encrypt dict parsing + _balanced_dict
# ---------------------------------------------------------------------------


def _aesv2_pdf() -> bytes:
    import random

    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _serialize_classic_pdf,
    )

    content = b"BT /F1 12 Tf 72 700 Td (ordered dict secret) Tj ET"
    base = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
    }
    trial = 0
    while True:
        pdf = _serialize_classic_pdf(
            dict(base), encrypt_rng=random.Random(f"cf-order-{trial}"))
        if b"/CFM /AESV2" in pdf:
            return pdf
        trial += 1


def test_encrypt_dict_cf_before_length_and_v4_default():
    """A V4 dict that orders /CF (whose /StdCF carries '/Length 16' — a
    BYTE count) before the top-level /Length, or omits top-level /Length
    entirely (V4 default = 128 bits), must still derive the right key
    (ADVICE r3: unanchored /Length match picked up 16)."""
    import re as _re

    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    pdf = _aesv2_pdf()
    assert b"ordered dict secret" not in pdf
    m = _re.search(
        rb"/Filter /Standard /V 4 /R 4 /Length 128 "
        rb"(/P -?\d+ /O <[0-9A-F]+> /U <[0-9A-F]+>)"
        rb"( /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
        rb" /Length 16 >> >> /StmF /StdCF /StrF /StdCF) >>",
        pdf,
    )
    assert m, "fixture serializer layout changed"
    # variant A: /CF sub-dict FIRST, same total byte length (offsets keep)
    rewritten = (b"/Filter /Standard" + m.group(2) + b" /V 4 /R 4 "
                 + m.group(1) + b" /Length 128 >>")
    assert len(rewritten) == len(m.group(0))
    var_a = pdf[:m.start()] + rewritten + pdf[m.end():]
    assert extract_real_pdf(var_a).extracted_text == "ordered dict secret"
    # variant B: NO top-level /Length at all -> V4 spec default 128 bits
    rewritten = (b"/Filter /Standard" + m.group(2) + b" /V 4 /R 4 "
                 + m.group(1) + b" " * 12 + b" >>")
    assert len(rewritten) == len(m.group(0))
    var_b = pdf[:m.start()] + rewritten + pdf[m.end():]
    assert extract_real_pdf(var_b).extracted_text == "ordered dict secret"


def test_encrypt_prefers_latest_trailer():
    """Incremental-update shape: a stale earlier trailer whose /Encrypt
    points at a missing object must not shadow the governing trailer
    nearest %%EOF (ADVICE r3: first-region-wins picked the stale one)."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        extract_real_pdf,
    )

    pdf = _encrypted_pdf(3)
    head, rest = pdf.split(b"\n", 1)
    stale = b"trailer\n<< /Size 9 /Root 1 0 R /Encrypt 99 0 R >>\n"
    doctored = head + b"\n" + stale + rest
    assert extract_real_pdf(doctored).extracted_text == "secret stays readable"


def test_balanced_dict_hex_string_abutting_close():
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        _balanced_dict,
    )

    assert _balanced_dict(b"<< /ID <AB>>> tail") == b"<< /ID <AB>>>"
    got = _balanced_dict(b"<< /A << /ID <AB>>> /Font 1 0 R >> tail")
    assert got == b"<< /A << /ID <AB>>> /Font 1 0 R >>"
    # unterminated hex string degrades to whole input, no infinite loop
    assert _balanced_dict(b"<< /ID <ABAB") == b"<< /ID <ABAB"


# ---------------------------------------------------------------------------
# CID (Type0) fonts — round-4: loud degrade instead of mojibake
# ---------------------------------------------------------------------------


def _type0_pdf(with_tounicode: bool) -> bytes:
    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import (
        _serialize_classic_pdf,
    )

    # codes 0x0001, 0x0002 -> "Hi" when the CMap is present
    content = b"BT /F4 12 Tf 72 700 Td <00010002> Tj ET"
    cmap = (b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"beginbfchar <0001> <0048> <0002> <0069> endbfchar")
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /Font << /F4 6 0 R >> >> /Contents 4 0 R >>"),
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X+Y "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"),
        6: (b"<< /Type /Font /Subtype /Type0 /BaseFont /X+Y "
            b"/Encoding /Identity-H /DescendantFonts [ 5 0 R ]"
            + (b" /ToUnicode 7 0 R" if with_tounicode else b"") + b" >>"),
    }
    if with_tounicode:
        objects[7] = (b"<< /Length " + str(len(cmap)).encode()
                      + b" >>\nstream\n" + cmap + b"\nendstream")
    return _serialize_classic_pdf(objects)


def test_type0_without_tounicode_errors_loudly():
    import pytest

    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page_safe,
    )
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        UnsupportedFont,
    )

    pdf = _type0_pdf(with_tounicode=False)
    with pytest.raises(UnsupportedFont):
        extract_real_pdf(pdf)
    ctype, res, err = extract_page_safe(pdf, "x.pdf")
    assert ctype == "error" and "UnsupportedFont" in err
    assert res.extracted_text == ""


def test_type0_with_tounicode_still_decodes():
    assert extract_real_pdf(_type0_pdf(with_tounicode=True)).extracted_text == "Hi"


def test_runlength_filter_pinned():
    """RunLengthDecode semantics pinned directly (PDF 1.7 §7.4.5)."""
    from intelligent_document_processing_on_aws_spark.kernels.real_pdf import (
        runlength_decode,
    )

    assert runlength_decode(b"\x02abc\x80") == b"abc"          # literal run
    assert runlength_decode(b"\xfeZ\x80") == b"ZZZ"            # 257-254=3
    assert runlength_decode(b"\x00a\xffQ\x80tail") == b"aQQ"   # EOD stops
    assert runlength_decode(b"") == b""
    import pytest

    with pytest.raises(ValueError):
        runlength_decode(b"\xfe")                              # truncated run
