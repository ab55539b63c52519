"""From-scratch text extraction for genuine ``%PDF`` byte streams.

Fills the role of the reference's PDF OCR ingestion
(lib/idp_common_pkg/idp_common/ocr/service.py:1144-1252, which renders
pages and extracts text via PyMuPDF + Textract) with a pure-Python,
stdlib-only mini PDF parser: object scan -> page-tree walk -> content
stream decode (FlateDecode via zlib) -> text-operator interpretation
(BT/ET, Td/TD/Tm/T*/TL, Tj/TJ/'/") -> positioned spans -> the same
reading-order line clustering the span-based branch uses
(kernels/pdf_layout.reading_order_lines), preserving the byte-identity
join contract: spans on a line joined with " ", lines with "\n", pages
with "\n".

PDF 1.5+ support: objects packed inside compressed object streams
(``/Type /ObjStm`` — the default container for catalog/page/font dicts in
most post-2005 PDFs) are inflated and merged into the object map before
the page walk (expand_object_streams), including streams encoded with
PNG row predictors (/DecodeParms /Predictor >= 10). Cross-reference
streams need no parsing: the object scan is offset-table-free by design,
so a /Type /XRef stream object is simply ignored.

Deliberate scope (documented, tested):
- text-extraction only: no rendering, font programs, or image decoding;
  RC4, AESV2, and AES-256 encryption (standard handler, empty user
  password) decrypt transparently (kernels/pdf_crypt); passworded or
  exotic-handler documents error;
- glyph-width-exact x advances are not computed (no font metrics): each
  show operator emits one span at the current text-line origin, so
  reading order relies on explicit positioning operators — true for the
  overwhelming majority of generated PDFs, which position every run;
- ``TJ`` kerning: small adjustments are sub-word kerns and concatenate;
  an adjustment at or beyond ``WORD_GAP_TJ`` (180/1000 text-space units,
  the conventional word-gap heuristic — TeX encodes inter-word spaces as
  ~-333) renders as a single space;
- string decoding is deferred to SHOW time and routed through the
  current font's /ToUnicode CMap when present (Tf tracks the font;
  bfchar + both bfrange forms, 1- and 2-byte codes) — custom-encoded
  subsetted fonts would make eager latin-1 decoding silently wrong;
  fonts without a CMap route through their simple-font /Encoding
  (WinAnsi/MacRoman base + /Differences glyph names resolved via the
  AGL convention, kernels/pdf_encodings); fonts with neither decode
  latin-1, correct for unembedded standard fonts;
- embedded text carries no OCR uncertainty: confidence = 1.0.
"""

from __future__ import annotations

import re
import zlib

from .boilerplate import ExtractionResult, Span
from .pdf_crypt import decrypt_stream, parse_encryption
from .pdf_encodings import parse_encoding
from .pdf_layout import LINE_JOIN, assemble_blocks, reading_order_lines

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_ID_RE = re.compile(rb"\bID[\s]")
_EI_RE = re.compile(rb"\sEI(?=\s|$)")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_OP_RE = re.compile(rb"[A-Za-z'\"*]+")
_SLASH_NAME_RE = re.compile(rb"/[^\s/\[\]()<>{}%]*")


class UnsupportedFont(ValueError):
    """A font whose codes cannot be decoded to text without an embedded
    font program (Type0/CID with no /ToUnicode). Raised so the document
    degrades to the error column instead of emitting mojibake."""


def scan_objects(data: bytes) -> dict[int, bytes]:
    """Map object number -> raw body (bytes between ``obj`` and ``endobj``).

    Offset-table-free on purpose: real-world PDFs frequently carry stale
    or incremental xref tables, so a linear scan (what PDF readers call
    "repair mode") is the robust path; we never trust xref offsets.
    """
    objects: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        end = data.find(b"endobj", m.end())
        if end == -1:
            end = len(data)
        objects[int(m.group(1))] = data[m.end():end]
    return objects


def scan_object_gens(data: bytes) -> dict[int, int]:
    """Object number -> generation number (needed for per-object
    decryption keys; only computed when the document is encrypted)."""
    return {int(m.group(1)): int(m.group(2)) for m in _OBJ_RE.finditer(data)}


def _dict_ref(body: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def _dict_refs_array(body: bytes, key: bytes) -> list[int] | None:
    m = re.search(rb"/" + key + rb"\s*\[([^\]]*)\]", body)
    if not m:
        return None
    return [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]


def page_object_numbers(objects: dict[int, bytes]) -> list[int]:
    """Walk Catalog -> Pages -> Kids (recursively: Kids may hold nested
    Pages nodes) and return page object numbers in document order."""
    root = None
    for num, body in objects.items():
        if re.search(rb"/Type\s*/Catalog\b", body):
            root = _dict_ref(body, b"Pages")
            break
    pages: list[int] = []

    def walk(num: int | None, depth: int = 0) -> None:
        if num is None or num not in objects or depth > 32:
            return
        body = objects[num]
        kids = _dict_refs_array(body, b"Kids")
        if kids is not None and re.search(rb"/Type\s*/Pages\b", body):
            for k in kids:
                walk(k, depth + 1)
        elif re.search(rb"/Type\s*/Page\b", body):
            pages.append(num)

    walk(root)
    if not pages:  # degraded document: fall back to any /Type /Page objects
        pages = sorted(
            n for n, b in objects.items()
            if re.search(rb"/Type\s*/Page(?!s)\b", b)
        )
    return pages


def _dict_int(objects: dict[int, bytes], body: bytes, key: bytes) -> int | None:
    """Integer dict value, direct (``/N 12``) or indirect (``/N 5 0 R``
    where object 5's body is a bare integer)."""
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R\b", body)
    if m:
        ref_body = objects.get(int(m.group(1)))
        m2 = re.match(rb"\s*(\d+)\s*", ref_body or b"")
        return int(m2.group(1)) if m2 else None
    m = re.search(rb"/" + key + rb"\s+(\d+)", body)
    return int(m.group(1)) if m else None


def _resolve_length(objects: dict[int, bytes], body: bytes) -> int | None:
    return _dict_int(objects, body, b"Length")


def png_unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """Reverse PNG row predictors (/DecodeParms /Predictor >= 10).

    Each row is ``1 + columns`` bytes: a filter-type byte then the
    filtered bytes (colors=1, 8 bits/component — the only shape PDF
    generators emit for text/xref streams). Predictor < 10 is identity
    (1 = no prediction; TIFF predictor 2 is not emitted for these).
    """
    if predictor < 10:
        return data
    rowlen = columns + 1
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(data) - rowlen + 1, rowlen):
        ft = data[r]
        row = bytearray(data[r + 1:r + 1 + columns])
        for i in range(columns):
            a = row[i - 1] if i > 0 else 0  # left (already reconstructed)
            b = prev[i]  # up
            c = prev[i - 1] if i > 0 else 0  # upper-left
            if ft == 1:
                row[i] = (row[i] + a) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + b) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + (a + b) // 2) & 0xFF
            elif ft == 4:
                p = a + b - c
                pa_, pb_, pc_ = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa_ <= pb_ and pa_ <= pc_) else (b if pb_ <= pc_ else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode (PDF 1.7 §7.4.4 / TIFF variant): 9->12-bit growing
    codes, clear=256, EOD=257, /EarlyChange widening (default 1 = widen
    one code early)."""
    table = {i: bytes([i]) for i in range(256)}
    size = 258
    width = 9
    out = bytearray()
    bitbuf = bitcnt = 0
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                size, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if code in table:
                entry = table[code]
            elif prev is not None and code == size:
                entry = prev + prev[:1]  # KwKwK case
            else:
                raise ValueError(f"bad LZW code {code}")
            out += entry
            if prev is not None:
                table[size] = prev + entry[:1]
                size += 1
            prev = entry
            if size >= (1 << width) - early and width < 12:
                width += 1
    return bytes(out)


def runlength_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode (PDF 1.7 §7.4.5): length byte 0-127 copies the
    next length+1 bytes literally; 129-255 repeats the next byte
    257-length times; 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1:i + 2 + ln]
            i += 2 + ln
        else:
            if i + 1 >= n:
                raise ValueError("truncated RunLength run")
            out += data[i + 1:i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _ascii85_decode(raw: bytes) -> bytes:
    """PDF ASCII85Decode: whitespace-tolerant, ``z`` groups, ``~>`` EOD
    (the leading ``<~`` Adobe frame is absent in PDF streams)."""
    import base64

    data = re.sub(rb"\s", b"", raw)
    if data.endswith(b"~>"):
        data = data[:-2]
    if data.startswith(b"<~"):
        data = data[2:]
    return base64.a85decode(b"<~" + data + b"~>", adobe=True)


def _asciihex_decode(raw: bytes) -> bytes:
    hx = re.sub(rb"[^0-9A-Fa-f>]", b"", raw).split(b">")[0]
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    return bytes.fromhex(hx.decode("ascii"))


def _apply_predictor(head: bytes, raw: bytes) -> bytes:
    m = re.search(rb"/DecodeParms\s*<<([^>]*)>>", head)
    if not m:
        return raw
    parms = m.group(1)
    pred = re.search(rb"/Predictor\s+(\d+)", parms)
    cols = re.search(rb"/Columns\s+(\d+)", parms)
    if pred:
        raw = png_unpredict(
            raw, int(pred.group(1)), int(cols.group(1)) if cols else 1
        )
    return raw


def _early_change(head: bytes) -> int:
    m = re.search(rb"/EarlyChange\s+(\d+)", head)
    return int(m.group(1)) if m else 1


def content_stream(objects: dict[int, bytes], num: int,
                   crypt: dict | None = None) -> bytes:
    """Decode one content-stream object (filter cascade or raw).

    /Length is used when it resolves AND lands on ``endstream`` (binary
    data may legally end in EOL bytes, which an endstream-keyword
    heuristic would mis-strip); a stale/unresolvable /Length falls back
    to locating ``endstream`` and stripping the delimiter EOL.
    """
    body = objects.get(num, b"")
    m = re.search(rb"stream\r?\n", body)
    if not m:
        return b""
    start = m.end()
    length = _resolve_length(objects, body[:start])
    raw = None
    if length is not None and re.match(rb"\s*endstream", body[start + length:]):
        raw = body[start:start + length]
    if raw is None:
        end = body.rfind(b"endstream")
        if end == -1:
            end = len(body)
        raw = body[start:end]
        # spec: EOL before `endstream` is a delimiter, not stream data
        if raw.endswith(b"\r\n"):
            raw = raw[:-2]
        elif raw.endswith(b"\n") or raw.endswith(b"\r"):
            raw = raw[:-1]
    head = body[:start]
    if crypt is not None:
        # encryption is the OUTERMOST layer: decrypt, then filters
        raw = decrypt_stream(crypt, num,
                             crypt.get("gens", {}).get(num, 0), raw)
    # /Filter is a single name or an array applied left-to-right
    # (PDF 1.7 §7.4): ASCII armor first, then the compression filter,
    # whose output takes the (single) /DecodeParms predictor.
    mf = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", head)
    names = re.findall(rb"/([A-Za-z0-9]+)", mf.group(1)) if mf else []
    for name in names:
        if name == b"ASCIIHexDecode":
            raw = _asciihex_decode(raw)
        elif name == b"ASCII85Decode":
            raw = _ascii85_decode(raw)
        elif name == b"FlateDecode":
            raw = _apply_predictor(head, zlib.decompress(raw))
        elif name == b"LZWDecode":
            raw = _apply_predictor(head, lzw_decode(raw, _early_change(head)))
        elif name == b"RunLengthDecode":
            raw = runlength_decode(raw)
        # image codecs (DCTDecode etc.) never carry page text: passthrough
    return raw


def expand_object_streams(objects: dict[int, bytes],
                          crypt: dict | None = None) -> None:
    """Unpack PDF 1.5 compressed object streams (``/Type /ObjStm``).

    An ObjStm's decoded data is ``N`` pairs of integers (object number,
    byte offset relative to /First) followed by the serialized object
    bodies. Embedded objects are merged into the map with setdefault:
    a same-numbered top-level definition wins, matching repair-mode
    precedence (incremental updates append uncompressed redefinitions
    at the end of the file). Role-matches the reference's PyMuPDF-backed
    ingestion (lib/idp_common_pkg/idp_common/ocr/service.py:1144-1252),
    which gets ObjStm handling from the library.
    """
    embedded: dict[int, bytes] = {}
    for num, body in list(objects.items()):
        if not re.search(rb"/Type\s*/ObjStm\b", body):
            continue
        try:
            data = content_stream(objects, num, crypt)
        except (zlib.error, ValueError):
            continue
        n_objs = _dict_int(objects, body, b"N")
        first = _dict_int(objects, body, b"First")
        if not data or not n_objs or first is None or first > len(data):
            continue
        ints = [int(x) for x in re.findall(rb"\d+", data[:first])]
        pairs = list(zip(ints[0::2], ints[1::2]))[:n_objs]
        for k, (objnum, off) in enumerate(pairs):
            end = first + pairs[k + 1][1] if k + 1 < len(pairs) else len(data)
            embedded[objnum] = data[first + off:end]
    for num, body in embedded.items():
        objects.setdefault(num, body)


def page_content(objects: dict[int, bytes], page_num: int,
                 crypt: dict | None = None) -> bytes:
    """Concatenate a page's /Contents stream(s) — the spec treats an array
    of streams as one logical stream with whitespace between parts."""
    body = objects.get(page_num, b"")
    refs = _dict_refs_array(body, b"Contents")
    if refs is None:
        one = _dict_ref(body, b"Contents")
        refs = [one] if one is not None else []
    return b"\n".join(content_stream(objects, r, crypt) for r in refs)


# -- fonts: ToUnicode CMaps ---------------------------------------------------

def _balanced_dict(data: bytes) -> bytes:
    """The << ... >> block starting at data[0], nested dicts balanced.

    ``<...>`` hex strings are skipped opaquely (mirroring the content
    tokenizer's lone-``<`` branch): a hex string whose closing ``>``
    abuts the dict terminator (``/ID <AB>>>``) would otherwise pair with
    the first ``>`` of ``>>`` and truncate the dict (ADVICE r3)."""
    depth = i = 0
    n = len(data)
    while i < n:
        two = data[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[:i]
        elif data[i] == 0x3C:  # lone < : hex string, skip to its >
            j = data.find(b">", i + 1)
            i = n if j < 0 else j + 1
        else:
            i += 1
    return data


def _dict_value(objects: dict[int, bytes], body: bytes, key: bytes) -> bytes | None:
    """A dict-valued entry: inline ``<< ... >>`` or an indirect reference."""
    m = re.search(rb"/" + key + rb"\s*", body)
    if not m:
        return None
    rest = body[m.end():]
    if rest.startswith(b"<<"):
        return _balanced_dict(rest)
    m2 = re.match(rb"(\d+)\s+\d+\s+R\b", rest)
    if m2:
        return objects.get(int(m2.group(1)))
    return None


def _utf16be_hex(hx: bytes) -> str:
    try:
        return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "replace")
    except (ValueError, UnicodeDecodeError):
        return ""


def parse_tounicode(data: bytes) -> tuple[int, dict[int, str]]:
    """A ToUnicode CMap stream -> (code byte width, code -> text map).

    Handles the three public section forms (PDF 1.7 §9.10.3 / Adobe CMap
    spec): begincodespacerange (code width), beginbfchar (<src> <dst>
    pairs), beginbfrange in both <lo> <hi> <dstStart> (incrementing the
    final UTF-16 code unit) and <lo> <hi> [<d1> <d2> ...] forms. dst hex
    is UTF-16BE (multi-code-unit values = surrogate pairs / ligatures).
    """
    mapping: dict[int, str] = {}
    code_bytes = 1
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m:
        hexes = re.findall(rb"<([0-9A-Fa-f]+)>", m.group(1))
        if hexes:
            code_bytes = max(1, len(hexes[0]) // 2)
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)
        ):
            mapping[int(src, 16)] = _utf16be_hex(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        for lo, hi, arr in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]", body, re.S
        ):
            dsts = re.findall(rb"<([0-9A-Fa-f]+)>", arr)
            for k, dst in enumerate(dsts):
                mapping[int(lo, 16) + k] = _utf16be_hex(dst)
        # strip bracketed arrays first: three consecutive <hex> tokens
        # inside [..] would otherwise fake a lo/hi/dstStart triple
        for lo, hi, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
            re.sub(rb"\[.*?\]", b"", body, flags=re.S),
        ):
            width = len(dst)
            for k in range(int(hi, 16) - int(lo, 16) + 1):
                bumped = f"{int(dst, 16) + k:0{width}x}".encode("ascii")
                mapping[int(lo, 16) + k] = _utf16be_hex(bumped)
    return code_bytes, mapping


def _font_encoding_value(objects: dict[int, bytes], font_body: bytes) -> bytes | None:
    """The /Encoding entry's value bytes: a bare name token, an inline
    ``<< ... >>`` dict, or the body of an indirectly-referenced dict."""
    m = re.search(rb"/Encoding\s*", font_body)
    if not m:
        return None
    rest = font_body[m.end():]
    if rest.startswith(b"<<"):
        return _balanced_dict(rest)
    m2 = re.match(rb"(\d+)\s+\d+\s+R\b", rest)
    if m2:
        return objects.get(int(m2.group(1)))
    m3 = re.match(rb"/[^\s/<>\[\]()]+", rest)
    if m3:
        return m3.group(0)
    return None


def page_fontmaps(
    objects: dict[int, bytes], page_num: int, crypt: dict | None = None
) -> dict[str, tuple[int, dict[int, str]]]:
    """Font name (e.g. '/F1') -> decode map for one page.

    Walks /Resources (inline or indirect) -> /Font -> each font ref.
    Per font, precedence follows the spec's recommendation:
    /ToUnicode CMap when present; else a simple-font /Encoding (base
    WinAnsi/MacRoman + /Differences glyph names, kernels/pdf_encodings);
    fonts with neither are absent from the result and decode as latin-1
    bytes (the correct reading for the standard unembedded fonts)."""
    body = objects.get(page_num, b"")
    res = _dict_value(objects, body, b"Resources")
    if res is None:
        return {}
    fonts = _dict_value(objects, res, b"Font")
    if fonts is None:
        return {}
    out: dict[str, tuple[int, dict[int, str]]] = {}
    for m in re.finditer(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R\b", fonts):
        font_body = objects.get(int(m.group(2)))
        if font_body is None:
            continue
        key = "/" + m.group(1).decode("latin-1")
        mapped = False
        tu = _dict_ref(font_body, b"ToUnicode")
        if tu is not None:
            try:
                cmap_data = content_stream(objects, tu, crypt)
            except (zlib.error, ValueError):
                cmap_data = b""
            if cmap_data:
                code_bytes, mapping = parse_tounicode(cmap_data)
                if mapping:
                    out[key] = (code_bytes, mapping)
                    mapped = True
        if not mapped:
            enc = _font_encoding_value(objects, font_body)
            if enc is not None:
                enc_map = parse_encoding(enc)
                if enc_map:
                    out[key] = (1, enc_map)
                    mapped = True
        if not mapped and re.search(rb"/Subtype\s*/Type0\b", font_body):
            # A composite (CID) font's codes are glyph/CID indices, not
            # character codes: without a usable /ToUnicode CMap the bytes
            # CANNOT be decoded to text, and the latin-1 fallback would
            # emit silent mojibake that passes as text. Full decoding needs
            # the embedded font program's CMap tables (the reference gets
            # it from PyMuPDF, ocr/service.py:1144-1252) — out of
            # stdlib-reasonable scope, so the document degrades LOUDLY to
            # the error column instead.
            raise UnsupportedFont(
                f"Type0 (CID) font {key} without a usable /ToUnicode CMap"
            )
    return out


# -- content-stream tokenizer -------------------------------------------------

class _Name(str):
    """PDF name token — a distinct type so ``/F1`` on the operand stack can
    never be mistaken for showable text by Tj/TJ."""


class _RawStr(bytes):
    """An undecoded PDF string. Byte -> text decoding happens at SHOW
    time, through the current font's ToUnicode CMap when it has one and
    latin-1 otherwise — custom-encoded (subsetted) fonts make eager
    latin-1 decoding silently wrong."""


_ARRAY_OPEN = object()  # unique sentinel: a literal string "[" is showable

_ESCAPES = {
    b"n"[0]: 0x0A, b"r"[0]: 0x0D, b"t"[0]: 0x09, b"b"[0]: 0x08,
    b"f"[0]: 0x0C, b"("[0]: 0x28, b")"[0]: 0x29, b"\\"[0]: 0x5C,
}


def _parse_literal_string(data: bytes, i: int) -> tuple[_RawStr, int]:
    """Parse a ``(...)`` literal string starting at the ``(``; handles
    nested balanced parens, backslash escapes, octal escapes, and
    line-continuation backslashes. Returns (raw bytes, index after ``)``)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                j = i
                while j < n and j - i < 3 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth > 0:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return _RawStr(out), i


def _parse_hex_string(data: bytes, i: int) -> tuple[_RawStr, int]:
    end = data.find(b">", i)
    if end == -1:
        end = len(data)
    hexdigits = re.sub(rb"\s", b"", data[i + 1:end])
    if len(hexdigits) % 2:
        hexdigits += b"0"  # spec: odd final digit implies trailing 0
    return _RawStr(bytes.fromhex(hexdigits.decode("ascii"))), end + 1


def decode_pdf_string(
    raw: bytes, cmap: tuple[int, dict[int, str]] | None
) -> str:
    """Bytes of a shown string -> text: ToUnicode lookup (1- or 2-byte
    codes; unmapped codes fall back to their latin-1 reading) or plain
    latin-1 when the font carries no CMap."""
    if cmap is None:
        return raw.decode("latin-1")
    width, mapping = cmap
    out: list[str] = []
    for k in range(0, len(raw) - width + 1, width):
        code = int.from_bytes(raw[k:k + width], "big")
        mapped = mapping.get(code)
        out.append(mapped if mapped is not None else raw[k:k + width].decode("latin-1"))
    return "".join(out)


# TJ adjustments are thousandths of a text-space unit, positive = tighten
# (moves the next glyph LEFT), negative = widen. A widening at or beyond
# this magnitude is an encoded inter-word space (TeX and many print
# drivers emit ~-250..-600 for spaces); smaller magnitudes are kerning.
WORD_GAP_TJ = 180.0


def _join_tj(arr: list) -> str:
    """Join a TJ array's decoded strings, rendering word-gap adjustments
    as a single space; kerning-scale numbers concatenate. Gaps before the
    first string or after the last produce nothing (no stray padding)."""
    out: list[str] = []
    pending_gap = False
    for e in arr:
        if isinstance(e, float):
            if e <= -WORD_GAP_TJ:
                pending_gap = True
        elif isinstance(e, str):
            if not e:
                continue  # empty show: no glyphs — adjacent gaps must not
                # stack into double spaces (found by hypothesis)
            if pending_gap and out and not out[-1].endswith(" ") and not e.startswith(" "):
                out.append(" ")
            pending_gap = False
            out.append(e)
    return "".join(out)


def text_spans(
    content: bytes,
    page: int,
    fontmaps: dict[str, tuple[int, dict[int, str]]] | None = None,
) -> list[dict]:
    """Interpret text-positioning/showing operators into positioned spans.

    Emits ``{"page", "x", "y", "text"}`` with y negated (PDF y grows
    upward; reading_order_lines sorts ascending y = top-down). ``fontmaps``
    (from page_fontmaps) supplies per-font ToUnicode CMaps; Tf tracks the
    current font so each shown string decodes through its own encoding.
    """
    spans: list[dict] = []
    stack: list = []  # operand stack (numbers + pending strings/arrays)
    tx = ty = 0.0  # text-line origin
    tl = 0.0  # leading
    in_text = False
    cur_cmap: tuple[int, dict[int, str]] | None = None
    i, n = 0, len(content)

    def dec(raw: _RawStr) -> str:
        return decode_pdf_string(raw, cur_cmap)

    def show(text: str) -> None:
        if text:
            spans.append({"page": page, "x": tx, "y": -ty, "text": text})

    while i < n:
        c = content[i]
        if c in b" \t\r\n\x00\x0c":
            i += 1
        elif c == 0x25:  # % comment to EOL (never inside a string literal)
            j = content.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif c == 0x28:  # (
            s, i = _parse_literal_string(content, i)
            stack.append(s)
        elif c == 0x3C:  # < — hex string or << dict
            if i + 1 < n and content[i + 1] == 0x3C:
                j = content.find(b">>", i + 2)
                i = n if j == -1 else j + 2  # inline dict: skip
            else:
                s, i = _parse_hex_string(content, i)
                stack.append(s)
        elif c == 0x5B:  # [
            stack.append(_ARRAY_OPEN)
            i += 1
        elif c == 0x5D:  # ] — close array: gather back to the marker
            arr: list = []
            while stack and stack[-1] is not _ARRAY_OPEN:
                arr.append(stack.pop())
            if stack:
                stack.pop()
            arr.reverse()
            stack.append(arr)
            i += 1
        elif c == 0x2F:  # /Name
            # pos-based match on the original buffer: the content[i:]
            # slice copied the whole remaining stream per name token —
            # O(n^2) on name-dense object streams
            m = _SLASH_NAME_RE.match(content, i)
            stack.append(_Name(m.group(0).decode("latin-1")))
            i = m.end()
        else:
            m = _NUM_RE.match(content, i)
            if m:
                stack.append(float(m.group(0)))
                i = m.end()
                continue
            m = _NAME_OP_RE.match(content, i)
            if not m:
                i += 1
                continue
            op = m.group(0)
            i = m.end()
            if op == b"BT":
                in_text = True
                tx = ty = 0.0
                tl = 0.0
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(stack) >= 2:
                stack.pop()  # size
                fname = stack.pop()
                if isinstance(fname, _Name):
                    cur_cmap = (fontmaps or {}).get(str(fname))
            elif op == b"BI":
                # inline image: skip `BI <dict> ID <binary> EI` wholesale —
                # the binary payload could contain byte sequences that look
                # like strings or text operators and must never reach the
                # tokenizer. EI delimited by whitespace is the standard
                # repair-mode heuristic (the dict's /L length is optional).
                m2 = _ID_RE.search(content, i)
                start = m2.end() if m2 else i
                m3 = _EI_RE.search(content, start)
                i = m3.end() if m3 else n
                stack.clear()
            elif not in_text:
                stack.clear()
            elif op == b"Td" and len(stack) >= 2:
                dy = stack.pop()
                dx = stack.pop()
                if isinstance(dx, float) and isinstance(dy, float):
                    tx += dx
                    ty += dy
            elif op == b"TD" and len(stack) >= 2:
                dy = stack.pop()
                dx = stack.pop()
                if isinstance(dx, float) and isinstance(dy, float):
                    tl = -dy
                    tx += dx
                    ty += dy
            elif op == b"Tm" and len(stack) >= 6:
                f_ = stack.pop()
                e_ = stack.pop()
                del stack[-4:]
                if isinstance(e_, float) and isinstance(f_, float):
                    tx, ty = e_, f_
            elif op == b"TL" and stack:
                v = stack.pop()
                if isinstance(v, float):
                    tl = v
            elif op == b"T*":
                ty -= tl
            elif op == b"Tj" and stack:
                v = stack.pop()
                if isinstance(v, _RawStr):
                    show(dec(v))
            elif op == b"TJ" and stack:
                v = stack.pop()
                if isinstance(v, list):
                    show(_join_tj(
                        [dec(e) if isinstance(e, _RawStr) else e
                         for e in v if isinstance(e, (float, _RawStr))]
                    ))
            elif op == b"'" and stack:
                v = stack.pop()
                ty -= tl
                if isinstance(v, _RawStr):
                    show(dec(v))
            elif op == b'"' and len(stack) >= 3:
                v = stack.pop()
                del stack[-2:]  # word + char spacing: no span-level effect
                ty -= tl
                if isinstance(v, _RawStr):
                    show(dec(v))
            else:
                stack.clear()  # any other operator consumes its operands
    return spans


def extract_real_pdf(content: bytes) -> ExtractionResult:
    """Full-document text extraction for a genuine %PDF byte stream.

    RC4-encrypted documents (standard security handler, empty user
    password — the common owner-protected shape on the web) decrypt
    transparently (kernels/pdf_crypt); AES or passworded documents raise
    UnsupportedEncryption, degrading to the error column rather than
    emitting garbage bytes."""
    objects = scan_objects(content)
    crypt = parse_encryption(objects, content)
    if crypt is not None:
        crypt["gens"] = scan_object_gens(content)
    expand_object_streams(objects, crypt)
    spans: list[dict] = []
    for idx, pnum in enumerate(page_object_numbers(objects), start=1):
        spans.extend(text_spans(
            page_content(objects, pnum, crypt), idx,
            fontmaps=page_fontmaps(objects, pnum, crypt),
        ))
    if not spans:
        return ExtractionResult("", [], 0.0, 0)
    lines = reading_order_lines(spans)
    # layout analysis: x-aligned multi-column runs become pipe tables
    # (pdf_layout.lines_to_blocks), other lines join word-wise
    extracted, line_texts = assemble_blocks(lines)
    out_spans: list[Span] = []
    off = 0
    for i, t in enumerate(line_texts):
        out_spans.append(Span(start=off, end=off + len(t), block_id=i))
        off += len(t) + len(LINE_JOIN)
    return ExtractionResult(extracted, out_spans, 1.0, len(lines))
