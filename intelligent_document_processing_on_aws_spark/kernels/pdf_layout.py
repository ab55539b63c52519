"""Layout-aware parsing of span-based "PDF" payloads.

The synthetic PDF payload (FIXTURES.md §1.6) is ``b"%SPDF" + json`` where
json = {"spans": [{"page": int, "x": float, "y": float, "text": str,
"confidence": float}, ...]} in arbitrary order. This kernel restores
reading order the way the reference's textractor ``to_markdown`` path does
for OCR blocks (lib/idp_common_pkg/idp_common/ocr/service.py:1558-1630):
top-to-bottom lines, left-to-right within a line, per page.

Join semantics (byte-identity contract):
- spans on one line joined with " ",
- lines joined with "\n",
- pages joined with "\n" — the reference's multi-page text concat separator
  (lib/idp_common_pkg/idp_common/extraction/service.py:979-1016).

confidence = mean span confidence / 100 (reference rounds OCR line
confidence to 1 dp in its text-confidence tables, ocr/service.py:1516-1556;
we keep the raw mean, scaled to [0,1]).
"""

from __future__ import annotations

import json

from .boilerplate import ExtractionResult, Span

PDF_MAGIC = b"%SPDF"
LINE_TOLERANCE = 3.0
LINE_JOIN = "\n"
PAGE_JOIN = "\n"
WORD_JOIN = " "


def parse_spans(content: bytes) -> list[dict]:
    payload = content[len(PDF_MAGIC):]
    data = json.loads(payload.decode("utf-8"))
    return data["spans"]


def reading_order_lines(spans: list[dict]) -> list[list[dict]]:
    """Cluster spans into lines: sort by (page, y), split when page changes
    or y gap > LINE_TOLERANCE; sort within a line by x."""
    ordered = sorted(spans, key=lambda s: (s["page"], s["y"]))
    lines: list[list[dict]] = []
    cur: list[dict] = []
    cur_page, cur_y = None, None
    for s in ordered:
        if cur and (s["page"] != cur_page or s["y"] - cur_y > LINE_TOLERANCE):
            lines.append(sorted(cur, key=lambda t: t["x"]))
            cur = []
        if not cur:
            cur_page, cur_y = s["page"], s["y"]
        cur.append(s)
    if cur:
        lines.append(sorted(cur, key=lambda t: t["x"]))
    return lines


TABLE_X_TOL = 2.0
TABLE_MIN_COLS = 3
TABLE_MIN_ROWS = 2


def _x_signature(line: list[dict]) -> tuple[float, ...] | None:
    if len(line) < TABLE_MIN_COLS:
        return None
    return tuple(float(s["x"]) for s in line)


def _sig_match(a: tuple[float, ...], b: tuple[float, ...]) -> bool:
    return len(a) == len(b) and all(abs(x - y) <= TABLE_X_TOL for x, y in zip(a, b))


def lines_to_blocks(lines: list[list[dict]]) -> list[tuple[str, list]]:
    """Layout analysis: reading-order lines -> text/table blocks.

    A run of >= TABLE_MIN_ROWS consecutive lines whose spans sit at the
    same >= TABLE_MIN_COLS x-positions (column alignment within
    TABLE_X_TOL) is a table — the role Textract TABLE blocks play in the
    reference's to_markdown (ocr/service.py:1500-1630); everything else
    stays a text line. Returns [("text", line) | ("table", [lines])].
    Requiring 3+ aligned columns keeps prose with split runs (1-2 spans
    per line) from ever being misread as tabular."""
    blocks: list[tuple[str, list]] = []
    i = 0
    while i < len(lines):
        sig = _x_signature(lines[i])
        if sig is not None:
            j = i + 1
            while (j < len(lines)
                   and (nxt := _x_signature(lines[j])) is not None
                   and _sig_match(sig, nxt)):
                j += 1
            if j - i >= TABLE_MIN_ROWS:
                blocks.append(("table", lines[i:j]))
                i = j
                continue
        blocks.append(("text", lines[i]))
        i += 1
    return blocks


def assemble_blocks(lines: list[list[dict]]) -> tuple[str, list[str]]:
    """(extracted_text, parts): table runs render as pipe-markdown via the
    frozen formatting spec; text lines join spans with WORD_JOIN."""
    from .tables import format_pipe_table

    parts: list[str] = []
    for kind, payload in lines_to_blocks(lines):
        if kind == "table":
            parts.append(
                format_pipe_table([[s["text"] for s in row] for row in payload])
            )
        else:
            parts.append(WORD_JOIN.join(s["text"] for s in payload))
    return LINE_JOIN.join(parts), parts


def extract_pdf(content: bytes) -> ExtractionResult:
    spans = parse_spans(content)
    if not spans:
        return ExtractionResult("", [], 0.0, 0)
    lines = reading_order_lines(spans)
    extracted, line_texts = assemble_blocks(lines)
    out_spans: list[Span] = []
    off = 0
    for i, t in enumerate(line_texts):
        out_spans.append(Span(start=off, end=off + len(t), block_id=i))
        off += len(t) + len(LINE_JOIN)
    # confidences are 1-dp percentages (reference rounds OCR confidence to
    # 1 dp, ocr/service.py:1516-1556); summing them as integer tenths makes
    # the mean independent of span order (float sums are not associative).
    conf_tenths = [round(float(s.get("confidence", 100.0)) * 10) for s in spans]
    confidence = round(sum(conf_tenths) / (len(conf_tenths) * 1000), 6)
    return ExtractionResult(extracted, out_spans, confidence, len(lines))
