"""Golden tests for the pure kernels — no Spark.

The byte-identity surface: every fixture page's extracted_text / spans /
confidence must match the generator's independently computed golden.
"""

from __future__ import annotations

import json

import pytest

from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import gen_page, gen_pages
from intelligent_document_processing_on_aws_spark.kernels import filetype
from intelligent_document_processing_on_aws_spark.kernels.boilerplate import extract_html
from intelligent_document_processing_on_aws_spark.kernels.extract import extract_page
from intelligent_document_processing_on_aws_spark.kernels.pagination import text_to_pages, wrap_lines
from intelligent_document_processing_on_aws_spark.kernels.tables import (
    format_float,
    format_int,
    format_pipe_table,
)


def test_byte_identity_sweep():
    """Every fixture family, 300 pages: byte-identical text+spans, equal confidence."""
    for rec in gen_pages(300):
        ctype, res = extract_page(bytes(rec["html"]))
        assert ctype == rec["content_type"], rec["url"]
        assert res.extracted_text == rec["extracted_text"], rec["url"]
        got_spans = json.dumps(
            [[s.start, s.end, s.block_id] for s in res.spans], separators=(",", ":")
        )
        assert got_spans == rec["spans_json"], rec["url"]
        assert res.confidence == pytest.approx(rec["confidence"], abs=1e-9), rec["url"]


def test_spans_offsets_slice_text():
    """spans must index into extracted_text exactly."""
    for rec in gen_pages(60):
        _, res = extract_page(bytes(rec["html"]))
        for s in res.spans:
            seg = res.extracted_text[s.start : s.end]
            assert "\n" not in seg or rec["content_type"] == "html"
            assert len(seg) == s.end - s.start


def test_link_farm_empty():
    rec = gen_page(2)  # family index 2 = link_farm
    assert rec["url"].split("/")[3] == "link_farm"
    _, res = extract_page(bytes(rec["html"]))
    assert res.extracted_text == ""
    assert res.confidence == 0.0
    assert res.spans == []


def test_filetype_detection():
    assert filetype.detect_content_type_and_text(b"%SPDF{}")[0] == "pdf"
    assert filetype.detect_content_type_and_text(b"%PDF-1.7 ...")[0] == "pdf"
    assert filetype.detect_content_type_and_text(b"<html><body>x</body></html>")[0] == "html"
    assert filetype.detect_content_type_and_text(b"plain words only")[0] == "text"
    assert filetype.detect_content_type_and_text(b"PK\x03\x04 xl/workbook")[0] == "xlsx"
    assert filetype.detect_content_type_and_text(b"PK\x03\x04 word/doc")[0] == "docx"
    assert filetype.detect_content_type_and_text(b"\xff\xfe\x00binary")[0] == "unknown"


def test_filetype_routes_audio_video():
    # container tags and frame headers alone, as the sniffer sees them
    wav = b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
    mp3 = b"\xff\xfb\x90\x00"  # MPEG-1 Layer III, 128 kbit/s, 44.1 kHz
    avi = b"RIFF" + (4096).to_bytes(4, "little") + b"AVI "
    assert filetype.detect_content_type_and_text(wav)[0] == filetype.AUDIO
    # offset-0 frame header routes; a junk-prefixed stream is not the
    # magic sniffer's job — detection stays conservative to avoid false
    # audio positives
    assert filetype.detect_content_type_and_text(mp3)[0] == filetype.AUDIO
    assert filetype.detect_content_type_and_text(avi)[0] == filetype.VIDEO
    # an ID3v2 header (binary version byte) routes to audio
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x00rest"
    assert filetype.detect_content_type_and_text(id3)[0] == filetype.AUDIO
    # prose that merely starts with "ID3" stays text
    assert filetype.detect_content_type_and_text(b"ID3 tags explained")[0] == filetype.TEXT
    # RIFF/WEBP still routes to image, not audio
    from intelligent_document_processing_on_aws_spark.fixtures.media_gen import (
        webp_bytes,
    )

    assert filetype.detect_content_type_and_text(webp_bytes(10, 10))[0] == filetype.IMAGE


def test_pipe_table_format():
    rows = [["Item", "Qty"], ["a", "1"], ["longer item", "12,345"]]
    md = format_pipe_table(rows)
    lines = md.split("\n")
    assert lines[0] == "| Item | Qty |"
    # separator: max(3, width)=11 and 6 dashes
    assert lines[1] == "| " + "-" * 11 + " | " + "-" * 6 + " |"
    assert lines[2] == "| a | 1 |"
    assert lines[3] == "| longer item | 12,345 |"


def test_number_formats_reference_parity():
    # floats: {:,.2f} then strip trailing zeros/point (document_converter.py:942-947)
    assert format_float(1234.5) == "1,234.5"
    assert format_float(1234.0) == "1,234"
    assert format_float(0.25) == "0.25"
    assert format_int(1234567) == "1,234,567"


def test_text_pagination_wrap_math():
    # chars_per_line = (1275 - 150)//7 = 160; lines_per_page = (1650-150)//16 = 93
    assert (1275 - 150) // 7 == 160
    long_line = "x" * 400
    wrapped = wrap_lines(long_line)
    assert wrapped == ["x" * 160, "x" * 160, "x" * 80]
    content = "\n".join(f"line {i}" for i in range(200))
    pages = text_to_pages(content)
    assert len(pages) == 3  # ceil(200/93)
    assert pages[0].split("\n")[0] == "line 0"
    assert pages[1].split("\n")[0] == "line 93"


def test_blank_lines_preserved():
    pages = text_to_pages("a\n\nb")
    assert pages[0] == "a\n\nb"


def test_html_entity_and_malformed():
    # entity decoding + unclosed tags must not crash and must keep text
    html = b"<html><body><p>fish &amp; chips cost ten pounds at the market today</body></html>"
    res = extract_html(html)
    assert res.extracted_text == "fish & chips cost ten pounds at the market today"


def test_office_byte_identity():
    """DOCX/XLSX decode branch: stdlib zip+XML parse vs independent goldens."""
    from intelligent_document_processing_on_aws_spark.fixtures.office_gen import gen_office_docs

    for d in gen_office_docs(60):
        ctype, res = extract_page(d["payload"])
        assert ctype == d["kind"], d["doc_id"]
        assert res.extracted_text == d["extracted_text"], d["doc_id"]
        for s in res.spans:
            assert res.extracted_text[s.start:s.end] == res.extracted_text[s.start:s.end]


def test_docx_table_and_paragraph_order():
    from intelligent_document_processing_on_aws_spark.fixtures.office_gen import _docx_payload
    from intelligent_document_processing_on_aws_spark.kernels.office import docx_to_parts

    payload = _docx_payload(["first para", "second para"], [["H1", "H2"], ["a", "b"]])
    parts = docx_to_parts(payload)
    assert parts[0] == "first para" and parts[1] == "second para"
    assert parts[2].startswith("| H1 | H2 |")


def test_docx_run_formatting_and_alignment():
    """Run-level bold/italic/underline -> markdown emphasis; w:jc
    alignment surfaces on the element model (document_converter.py:268-381
    run extraction); toggle-off vals respected; run-boundary whitespace
    stays outside the markers."""
    from intelligent_document_processing_on_aws_spark.fixtures.office_gen import (
        _docx_payload,
    )
    from intelligent_document_processing_on_aws_spark.kernels.office import (
        docx_to_elements,
        docx_to_parts,
        render_run_markdown,
    )

    payload = _docx_payload(
        [{"runs": [("Total due ", {}), ("now", {"b": True}),
                   (" via ", {"i": True}), ("wire", {"u": True})],
          "align": "center"},
         {"runs": [("both", {"b": True, "i": True})], "align": "both"}],
        None,
    )
    parts = docx_to_parts(payload)
    assert parts == ["Total due **now** *via* <u>wire</u>", "***both***"]
    els = docx_to_elements(payload)
    assert [e["alignment"] for e in els] == ["center", "justify"]
    assert els[0]["runs"][1] == {"text": "now", "bold": True, "italic": False,
                                 "underline": False, "font_size": None,
                                 "font_name": None}
    # explicit toggle-off: <w:b w:val="0"/> must not bold
    assert render_run_markdown({"text": "x", "bold": False, "italic": False,
                                "underline": False}) == "x"
    assert render_run_markdown({"text": "  spaced  ", "bold": True,
                                "italic": False, "underline": False}) == "  **spaced**  "


def test_xlsx_shared_strings_path():
    """sharedStrings indirection (the common real-world encoding)."""
    import io
    import zipfile

    from intelligent_document_processing_on_aws_spark.kernels.office import xlsx_to_sheets

    S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml",
                    f'<workbook xmlns="{S}"><sheets><sheet name="X" sheetId="1"/></sheets></workbook>')
        zf.writestr("xl/sharedStrings.xml",
                    f'<sst xmlns="{S}"><si><t>hello</t></si><si><t>world</t></si></sst>')
        zf.writestr("xl/worksheets/sheet1.xml",
                    f'<worksheet xmlns="{S}"><sheetData>'
                    f'<row r="1"><c t="s"><v>0</v></c><c t="s"><v>1</v></c></row>'
                    f'<row r="2"><c><v>42</v></c><c t="s"><v>0</v></c></row>'
                    f"</sheetData></worksheet>")
    sheets = xlsx_to_sheets(buf.getvalue())
    assert sheets == {"X": [["hello", "world"], ["42", "hello"]]}


def test_corrupt_office_payload_contained():
    """Malformed OOXML zips degrade to error rows, never crash the batch."""
    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page_safe,
    )

    for payload in (b"PK\x03\x04 word/ garbage", b"PK\x03\x04 xl/ junk", b"PK"):
        ctype, res, err = extract_page_safe(payload)
        assert res.extracted_text == ""
        assert ctype in ("error", "unknown")
        if ctype == "error":
            assert "BadZipFile" in err


# ---------------------------------------------------------------------------
# Textract-style blocks -> markdown (textractor to_markdown analog)
# ---------------------------------------------------------------------------

def _mk_line(lid, text, top, wid_prefix):
    words = text.split(" ")
    wblocks = [{"BlockType": "WORD", "Id": f"{wid_prefix}{i}", "Text": w}
               for i, w in enumerate(words)]
    line = {"BlockType": "LINE", "Id": lid, "Text": text,
            "Geometry": {"BoundingBox": {"Top": top, "Left": 0.1}},
            "Relationships": [{"Type": "CHILD",
                               "Ids": [b["Id"] for b in wblocks]}]}
    return [line] + wblocks


def test_textract_table_grid_and_spans():
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        table_to_markdown,
    )

    blocks = [
        {"BlockType": "WORD", "Id": "w1", "Text": "Name"},
        {"BlockType": "WORD", "Id": "w2", "Text": "Qty"},
        {"BlockType": "WORD", "Id": "w3", "Text": "wide"},
        {"BlockType": "WORD", "Id": "w4", "Text": "a|b"},
        {"BlockType": "CELL", "Id": "c1", "RowIndex": 1, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["w1"]}]},
        {"BlockType": "CELL", "Id": "c2", "RowIndex": 1, "ColumnIndex": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["w2"]}]},
        # row 2: col-span 2 anchor; no cell at (2,2)
        {"BlockType": "CELL", "Id": "c3", "RowIndex": 2, "ColumnIndex": 1,
         "ColumnSpan": 2, "Relationships": [{"Type": "CHILD", "Ids": ["w3"]}]},
        # row 3: pipe-bearing cell + empty cell (no children)
        {"BlockType": "CELL", "Id": "c4", "RowIndex": 3, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["w4"]}]},
        {"BlockType": "CELL", "Id": "c5", "RowIndex": 3, "ColumnIndex": 2},
    ]
    table = {"BlockType": "TABLE", "Id": "t1",
             "Relationships": [{"Type": "CHILD",
                                "Ids": ["c1", "c2", "c3", "c4", "c5"]}]}
    by_id = {b["Id"]: b for b in blocks}
    md = table_to_markdown(table, by_id).split("\n")
    assert md[0] == "| Name | Qty |"
    assert md[1] == "| ---- | --- |"   # max(3, width) dashes
    assert md[2] == "| wide |  |"      # span anchor text, covered cell empty
    assert md[3] == "| a\\|b |  |"     # pipe escaped, empty cell
    assert len(md) == 4


def test_textract_blocks_reading_order_and_line_dedup():
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_plain_text,
        blocks_to_markdown,
    )

    blocks = []
    blocks += _mk_line("l1", "intro prose", 0.05, "pw")
    # table words + cells; a duplicate row-LINE over the same words
    blocks += [
        {"BlockType": "WORD", "Id": "tw1", "Text": "k"},
        {"BlockType": "WORD", "Id": "tw2", "Text": "v"},
        {"BlockType": "CELL", "Id": "c1", "RowIndex": 1, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["tw1"]}]},
        {"BlockType": "CELL", "Id": "c2", "RowIndex": 1, "ColumnIndex": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["tw2"]}]},
        {"BlockType": "LINE", "Id": "l2", "Text": "k v",
         "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["tw1", "tw2"]}]},
    ]
    blocks += _mk_line("l3", "closing prose", 0.20, "cw")
    # table emitted LAST in list order but positioned between the lines
    blocks.append({"BlockType": "TABLE", "Id": "t1",
                   "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
                   "Relationships": [{"Type": "CHILD", "Ids": ["c1", "c2"]}]})
    md = blocks_to_markdown(blocks)
    assert md == "intro prose\n\n| k | v |\n\nclosing prose"
    # plain-text fallback keeps every LINE including the table row
    assert blocks_plain_text(blocks) == "intro prose\nk v\nclosing prose"


def test_textract_key_value_set_forms():
    """FORMS: KEY/VALUE pairs render as **key:** value, their duplicate
    prose LINE is claimed-word-dropped, empty values keep the bare label,
    and a VALUE-entity block alone never emits."""
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
    )

    blocks = [
        {"BlockType": "WORD", "Id": "kw1", "Text": "Account"},
        {"BlockType": "WORD", "Id": "kw2", "Text": "Number"},
        {"BlockType": "WORD", "Id": "vw1", "Text": "12345"},
        {"BlockType": "KEY_VALUE_SET", "Id": "v1", "EntityTypes": ["VALUE"],
         "Relationships": [{"Type": "CHILD", "Ids": ["vw1"]}]},
        {"BlockType": "KEY_VALUE_SET", "Id": "k1", "EntityTypes": ["KEY"],
         "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["kw1", "kw2"]},
                           {"Type": "VALUE", "Ids": ["v1"]}]},
        # duplicate prose line over the same words: must be dropped
        {"BlockType": "LINE", "Id": "l1", "Text": "Account Number 12345",
         "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["kw1", "kw2", "vw1"]}]},
        # empty-value key
        {"BlockType": "WORD", "Id": "kw3", "Text": "Signature"},
        {"BlockType": "KEY_VALUE_SET", "Id": "v2", "EntityTypes": ["VALUE"]},
        {"BlockType": "KEY_VALUE_SET", "Id": "k2", "EntityTypes": ["KEY"],
         "Geometry": {"BoundingBox": {"Top": 0.20, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["kw3"]},
                           {"Type": "VALUE", "Ids": ["v2"]}]},
    ]
    blocks += _mk_line("l2", "ordinary prose", 0.15, "pp")
    md = blocks_to_markdown(blocks)
    assert md == "**Account Number:** 12345\nordinary prose\n**Signature:**"


def test_textract_selection_elements():
    """SELECTION_ELEMENT checkboxes render as :selected:/:unselected: in
    both key-value values and table cells (textractor's convention)."""
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
        table_to_markdown,
    )

    blocks = [
        {"BlockType": "WORD", "Id": "kw1", "Text": "Married"},
        {"BlockType": "SELECTION_ELEMENT", "Id": "s1",
         "SelectionStatus": "SELECTED"},
        {"BlockType": "KEY_VALUE_SET", "Id": "v1", "EntityTypes": ["VALUE"],
         "Relationships": [{"Type": "CHILD", "Ids": ["s1"]}]},
        {"BlockType": "KEY_VALUE_SET", "Id": "k1", "EntityTypes": ["KEY"],
         "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["kw1"]},
                           {"Type": "VALUE", "Ids": ["v1"]}]},
        {"BlockType": "SELECTION_ELEMENT", "Id": "s2",
         "SelectionStatus": "NOT_SELECTED"},
        {"BlockType": "KEY_VALUE_SET", "Id": "v2", "EntityTypes": ["VALUE"],
         "Relationships": [{"Type": "CHILD", "Ids": ["s2"]}]},
        {"BlockType": "KEY_VALUE_SET", "Id": "k2", "EntityTypes": ["KEY"],
         "Geometry": {"BoundingBox": {"Top": 0.20, "Left": 0.1}},
         "Relationships": [{"Type": "CHILD", "Ids": ["kw2"]},
                           {"Type": "VALUE", "Ids": ["v2"]}]},
        {"BlockType": "WORD", "Id": "kw2", "Text": "Veteran"},
    ]
    md = blocks_to_markdown(blocks)
    assert md == "**Married:** :selected:\n**Veteran:** :unselected:"

    # table cell: words then checkbox, joined in child order
    cell_blocks = [
        {"BlockType": "WORD", "Id": "w1", "Text": "agree"},
        {"BlockType": "SELECTION_ELEMENT", "Id": "s3",
         "SelectionStatus": "SELECTED"},
        {"BlockType": "CELL", "Id": "c1", "RowIndex": 1, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["w1", "s3"]}]},
        {"BlockType": "SELECTION_ELEMENT", "Id": "s4",
         "SelectionStatus": "NOT_SELECTED"},
        {"BlockType": "CELL", "Id": "c2", "RowIndex": 1, "ColumnIndex": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["s4"]}]},
    ]
    table = {"BlockType": "TABLE", "Id": "t1",
             "Relationships": [{"Type": "CHILD", "Ids": ["c1", "c2"]}]}
    by_id = {b["Id"]: b for b in cell_blocks}
    md = table_to_markdown(table, by_id)
    assert "agree :selected:" in md and ":unselected:" in md


def test_textract_blocks_empty_and_tableless():
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
    )

    assert blocks_to_markdown([]) == ""
    assert blocks_to_markdown([{"BlockType": "PAGE", "Id": "p1"}]) == ""
    only_lines = _mk_line("l1", "a b", 0.3, "x") + _mk_line("l2", "c d", 0.1, "y")
    # sorted by top: l2 first
    assert blocks_to_markdown(only_lines) == "c d\na b"


def test_textract_fixture_family_differential():
    """Generator goldens are construction-derived; the kernel must agree on
    every committed doc (same gate the driver applies via the oracle)."""
    import json

    from intelligent_document_processing_on_aws_spark.fixtures.ocrblocks_gen import (
        gen_ocrblocks_docs,
    )
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
    )

    for d in gen_ocrblocks_docs(60):
        assert blocks_to_markdown(json.loads(d["blocks_json"])) == d["page_md"]


def test_textract_merged_cell_blocks():
    """Real AnalyzeDocument merge encoding: base cells stay span-1, a
    MERGED_CELL child of the TABLE carries the span + CHILD links; combined
    text renders at the anchor, '' at covered positions."""
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        table_to_markdown,
    )

    blocks = [
        {"BlockType": "WORD", "Id": "w1", "Text": "Total"},
        {"BlockType": "WORD", "Id": "w2", "Text": "42"},
        {"BlockType": "WORD", "Id": "w3", "Text": "x"},
        {"BlockType": "WORD", "Id": "w4", "Text": "y"},
        {"BlockType": "CELL", "Id": "c1", "RowIndex": 1, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["w3"]}]},
        {"BlockType": "CELL", "Id": "c2", "RowIndex": 1, "ColumnIndex": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["w4"]}]},
        {"BlockType": "CELL", "Id": "c3", "RowIndex": 2, "ColumnIndex": 1,
         "Relationships": [{"Type": "CHILD", "Ids": ["w1"]}]},
        {"BlockType": "CELL", "Id": "c4", "RowIndex": 2, "ColumnIndex": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["w2"]}]},
        {"BlockType": "MERGED_CELL", "Id": "m1", "RowIndex": 2,
         "ColumnIndex": 1, "RowSpan": 1, "ColumnSpan": 2,
         "Relationships": [{"Type": "CHILD", "Ids": ["c3", "c4"]}]},
    ]
    table = {"BlockType": "TABLE", "Id": "t1",
             "Relationships": [{"Type": "CHILD",
                                "Ids": ["c1", "c2", "c3", "c4", "m1"]}]}
    by_id = {b["Id"]: b for b in blocks}
    md = table_to_markdown(table, by_id).split("\n")
    assert md[0] == "| x | y |"
    assert md[2] == "| Total 42 |  |"  # combined at anchor, covered blank


def test_textract_layout_headings():
    """LAYOUT_TITLE/SECTION_HEADER render as #/## headings consuming their
    child LINEs; other LAYOUT_* containers are transparent."""
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
    )

    def line(lid, text, top, wids):
        return [{"BlockType": "WORD", "Id": w, "Text": t}
                for w, t in wids] + [{
            "BlockType": "LINE", "Id": lid, "Text": text,
            "Geometry": {"BoundingBox": {"Top": top, "Left": 0.1}},
            "Relationships": [{"Type": "CHILD", "Ids": [w for w, _ in wids]}],
        }]

    blocks = []
    blocks += line("l1", "Annual Report", 0.05, [("w1", "Annual"), ("w2", "Report")])
    blocks.append({"BlockType": "LAYOUT_TITLE", "Id": "y1",
                   "Geometry": {"BoundingBox": {"Top": 0.05, "Left": 0.1}},
                   "Relationships": [{"Type": "CHILD", "Ids": ["l1"]}]})
    blocks += line("l2", "ordinary prose", 0.10, [("w3", "ordinary"), ("w4", "prose")])
    # transparent container around the prose line: must NOT prefix it
    blocks.append({"BlockType": "LAYOUT_TEXT", "Id": "y2",
                   "Geometry": {"BoundingBox": {"Top": 0.10, "Left": 0.1}},
                   "Relationships": [{"Type": "CHILD", "Ids": ["l2"]}]})
    blocks += line("l3", "Revenue", 0.15, [("w5", "Revenue")])
    blocks.append({"BlockType": "LAYOUT_SECTION_HEADER", "Id": "y3",
                   "Geometry": {"BoundingBox": {"Top": 0.15, "Left": 0.1}},
                   "Relationships": [{"Type": "CHILD", "Ids": ["l3"]}]})
    md = blocks_to_markdown(blocks)
    assert md == "# Annual Report\nordinary prose\n## Revenue"


def test_textract_signature_blocks_do_not_break_markdown():
    """SIGNATURES-feature responses carry text-less SIGNATURE blocks that
    crash textractor's reading_order (the reference catches the error and
    degrades the WHOLE page to plain LINE text, ocr/service.py:1593-1606).
    Our renderer ignores signature geometry and keeps full markdown — a
    documented improvement over the fallback."""
    from intelligent_document_processing_on_aws_spark.kernels.textract_blocks import (
        blocks_to_markdown,
    )

    bbox = {"Top": 0.1, "Left": 0.1, "Width": 0.2, "Height": 0.02}
    blocks = [
        {"BlockType": "PAGE", "Id": "p1"},
        {"BlockType": "LINE", "Id": "l1", "Text": "Before signature",
         "Geometry": {"BoundingBox": bbox}},
        {"BlockType": "SIGNATURE", "Id": "s1",
         "Geometry": {"BoundingBox": {"Top": 0.5, "Left": 0.1,
                                      "Width": 0.2, "Height": 0.05}}},
        {"BlockType": "LINE", "Id": "l2", "Text": "After signature",
         "Geometry": {"BoundingBox": {"Top": 0.8, "Left": 0.1,
                                      "Width": 0.2, "Height": 0.02}}},
    ]
    assert blocks_to_markdown(blocks) == "Before signature\nAfter signature"
