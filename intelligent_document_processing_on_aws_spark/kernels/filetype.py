"""Content-type detection by magic bytes + decode fallback.

Parity with the reference's `_detect_file_type`
(lib/idp_common_pkg/idp_common/ocr/service.py:1632-1678): magic-byte check
(%PDF, PK+xl/ for xlsx, PK+word/ for docx), then UTF-8 decode fallback to
classify text/html. Extended with the synthetic %SPDF marker used by the
span-based PDF fixtures, CSV routing (the reference keys CSV on the file
extension, so an optional ``name_hint`` carries that signal; a
conservative content sniff covers hint-less payloads), and image routing
(jpg/png/gif/bmp/tiff/webp — reference :1657-1658).

Ordering matters: the UTF-8 decode runs BEFORE the GIF/BMP/TIFF/RIFF
magic checks because those magics are plain ASCII ("BM", "GIF89a") — a
CSV whose first cell is "BMI" must not be routed to image. Real binary
images effectively never decode as UTF-8 (NUL/high bytes follow within
the header), so decodable content is classified on the text path, where
an image extension hint can still claim it.
"""

from __future__ import annotations

import csv as _csv
import io as _io

PDF = "pdf"
HTML = "html"
TEXT = "text"
CSV = "csv"
OCR_JSON = "ocr_json"
XLSX = "xlsx"
XLS = "xls"
DOCX = "docx"
RTF = "rtf"
IMAGE = "image"
AUDIO = "audio"
VIDEO = "video"
UNKNOWN = "unknown"

_IMAGE_EXTS = (".jpg", ".jpeg", ".png", ".gif", ".bmp", ".tiff", ".tif", ".webp")


def _header_like(fields: list[str]) -> bool:
    """A CSV header row: short, non-empty, non-numeric labels."""
    if not fields:
        return False
    for f in fields:
        f = f.strip()
        if not f or len(f) > 40 or f.count(" ") > 3:
            return False
        if _numericish(f):
            return False
    return True


def _numericish(s: str) -> bool:
    s = s.strip().replace(",", "")
    if not s:
        return False
    try:
        float(s)
        return True
    except ValueError:
        return False


def looks_like_csv(text: str) -> bool:
    """Conservative CSV sniff (hint-less fallback only — a .csv extension
    routes unconditionally, matching the reference's extension-based
    dispatch). Gates, all required:

    - the first (<=8) non-empty sample lines parse to >= 3 rows of the
      same >= 2 field count;
    - the first row is header-like (short non-empty non-numeric labels);
    - type contrast: at least one column whose header is non-numeric and
      whose data values are all numeric — the signal a header-detection
      sniffer keys on. Comma-bearing prose (logs, address lists) has no
      such column and stays on the text path; so do all-words CSVs
      without an extension hint (documented conservatism — the reference
      never content-sniffs CSV at all)."""
    lines = [ln for ln in text[:4096].splitlines() if ln.strip()][:8]
    if len(lines) < 3:
        return False
    try:
        rows = [r for r in _csv.reader(_io.StringIO("\n".join(lines))) if r]
    except _csv.Error:
        return False
    if len(rows) < 3:
        return False
    width = len(rows[0])
    if width < 2 or any(len(r) != width for r in rows):
        return False
    if not _header_like(rows[0]):
        return False
    header, data = rows[0], rows[1:]
    for c in range(width):
        if _numericish(header[c]):
            continue
        vals = [r[c] for r in data if r[c].strip()]
        if vals and all(_numericish(v) for v in vals):
            return True
    return False


def _is_unambiguous_image_magic(content: bytes) -> bool:
    """Magics that cannot open meaningful text: PNG/JPEG start with
    non-UTF8 bytes; TIFF and RIFF+WEBP signatures embed NUL / an exact
    12-byte tag no prose starts with. Checked BEFORE the decode attempt
    (a tiny all-low-byte image body can be valid UTF-8)."""
    return (
        content.startswith(b"\x89PNG\r\n\x1a\n")
        or content.startswith(b"\xff\xd8")
        or content[:4] in (b"II*\x00", b"MM\x00*")
        or (content[:4] == b"RIFF" and content[8:12] == b"WEBP")
    )


def _audio_video_magic(content: bytes) -> str | None:
    """RIFF/WAVE and RIFF/'AVI ' 12-byte tags, ID3v2 (version byte is a
    control char no prose starts with) and a structurally valid MPEG-1
    Layer III frame header (0xFF lead byte cannot open UTF-8 text).
    Checked BEFORE the decode attempt, like the unambiguous image
    magics, so such a payload is typed audio/video (kernels/extract.py
    then returns empty text) instead of landing on the text path."""
    if content[:4] == b"RIFF":
        if content[8:12] == b"WAVE":
            return AUDIO
        if content[8:12] == b"AVI ":
            return VIDEO
        return None
    if content[:3] == b"ID3" and len(content) > 10 and content[3] < 0x10:
        return AUDIO
    if len(content) >= 4 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0:
        version2 = (content[1] >> 3) & 0b11
        layer2 = (content[1] >> 1) & 0b11
        bitrate_idx = (content[2] >> 4) & 0xF
        sr_idx = (content[2] >> 2) & 0b11
        if (version2 == 0b11 and layer2 == 0b01
                and bitrate_idx not in (0, 15) and sr_idx != 3):
            return AUDIO
    return None


def _is_ascii_image_magic(content: bytes) -> bool:
    """'GIF87a'/'GIF89a'/'BM' are plain ASCII a text file can legally start
    with ('BMI,...' CSV) — consulted only for payloads that did NOT decode
    as UTF-8."""
    return content[:6] in (b"GIF87a", b"GIF89a") or content.startswith(b"BM")


def _is_textract_json(text: str) -> bool:
    """True only for a parseable AnalyzeDocument shape: a {"Blocks": [...]}
    envelope or a bare list whose dict entries carry BlockType. Truncated or
    merely BlockType-mentioning JSON falls back to the text path."""
    import json as _json

    try:
        payload = _json.loads(text)
    except ValueError:
        return False
    blocks = payload.get("Blocks") if isinstance(payload, dict) else payload
    return isinstance(blocks, list) and any(
        isinstance(b, dict) and "BlockType" in b for b in blocks
    )


# controls legal in text; everything else in C0 + DEL/C1 counts as binary
_CTRL_OK = frozenset((9, 10, 12, 13))


def _sniff_text(content: bytes) -> str | None:
    """Charset-sniff fallback for payloads that are not strict UTF-8 (the
    real web: ~1 in 5 pages is legacy-encoded). Runs the WHATWG chain
    (kernels/charset) and accepts the result only if it *looks like text*
    (<= 5% control characters) — the windows-1252 step is total, so
    without the gate every binary blob would decode to mojibake "text".
    Returns None for binary: the caller keeps the UNKNOWN route."""
    from .charset import sniff_decode

    text = sniff_decode(content).text
    if not text:
        return None
    ctrl = sum(
        1 for ch in text
        if (o := ord(ch)) < 0xA0 and (o < 32 and o not in _CTRL_OK or o >= 0x7F)
    )
    return text if ctrl <= 0.05 * len(text) else None


def detect_content_type_and_text(
    content: bytes, name_hint: str | None = None
) -> tuple[str, str | None]:
    """(content_type, decoded_text) — the decoded text is returned for the
    text-family types so the extraction dispatch never decodes twice."""
    if content.startswith(b"%SPDF") or content.startswith(b"%PDF"):
        return PDF, None
    if content[:2] == b"PK" and content[2:3] < b" ":
        # ZIP record signatures are "PK" plus two control bytes (\x03\x04
        # local header, \x05\x06 empty archive); a text payload that only
        # begins with "PK" (a CSV header cell "PK,...") stays on the text path
        head = content[:4096]
        if b"xl/" in head:
            return XLSX, None
        if b"word/" in head:
            return DOCX, None
        return UNKNOWN, None
    if content.startswith(b"{\\rtf"):
        return RTF, None
    if content.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        # OLE2/CFB container: legacy Office. Routed to the BIFF8 .xls
        # decoder (kernels/xls_biff); non-workbook CFB files (.doc/.ppt)
        # raise XlsError there and degrade to the error column — the
        # reference routes by extension and errors the same way
        # (document_converter.py:164-221)
        return XLS, None
    if _is_unambiguous_image_magic(content):
        return IMAGE, None
    av = _audio_video_magic(content)
    if av is not None:
        return av, None
    try:
        text = content.decode("utf-8")
    except UnicodeDecodeError:
        if _is_ascii_image_magic(content):
            return IMAGE, None
        text = _sniff_text(content)
        if text is None:
            return UNKNOWN, None
    lowered = text[:2048].lower()
    if "<html" in lowered or "<!doctype html" in lowered or "<body" in lowered:
        return HTML, text
    if text.lstrip()[:1] in ("[", "{") and '"blocktype"' in lowered and _is_textract_json(text):
        # Textract AnalyzeDocument response JSON (a Blocks envelope or a
        # bare block list) — routed to the block-tree markdown kernel.
        # The cheap substring check only gates the full-parse validation:
        # a JSON document that merely MENTIONS "BlockType" (a schema, a
        # config) stays on the text path.
        return OCR_JSON, text
    hint = (name_hint or "").split("?")[0].lower()
    if hint.endswith(".csv"):
        return CSV, text
    if hint.endswith(".txt"):
        return TEXT, text
    if hint.endswith(_IMAGE_EXTS):
        return IMAGE, None  # extension says image though bytes decode as text
    if looks_like_csv(text):
        return CSV, text
    return TEXT, text
