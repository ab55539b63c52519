"""From-scratch WARC (Web ARChive, ISO 28500) record parsing — stdlib.

Common Crawl — the canonical 100-TB webtext corpus — ships as
`.warc.gz` files with ONE GZIP MEMBER PER RECORD, so a reader can
stream records without decompressing the whole file. This module
implements the public WARC 1.0/1.1 format directly (no `warcio`
dependency in the container):

- `iter_warc_records_lenient`: the one record walk, over plain or
  gzipped bytes (one gzip member per record, or one member for the
  whole file); a damaged record becomes one error tuple,
- `parse_http_response`: status line + headers + body split, with
  `Transfer-Encoding: chunked` de-chunking and `Content-Encoding:
  gzip/deflate` decompression (raw captured responses keep both),
- `decode_charset`: BOM -> Content-Type charset -> <meta charset> sniff
  -> strict UTF-8 -> cp1252 fallback, in that order (deterministic).

The module only reads: WET ``conversion`` and WAT ``metadata`` records
parse like any other, but nothing here writes a record.

Scale note (100 TB): the parallel unit today is the FILE (Common Crawl
publishes ~1 GB files, ~80k per crawl), Spark's `binaryFile`
partitioning model, and each file is walked from memory; see
sources/warc.py. Splitting a large file at gzip member headers, each
confirmed by decoding it, is ROADMAP direction 6.
"""

from __future__ import annotations

import gzip
import re
import zlib


class WarcError(ValueError):
    """Malformed WARC payload."""


_CRLF = b"\r\n"
_VERSION_RE = re.compile(rb"^WARC/(\d+\.\d+)$")


def _parse_header_block(buf: bytes, start: int) -> tuple[dict[str, str], int]:
    """Parse the WARC header block starting at `start` (the `WARC/x.y`
    line). Returns (headers incl. '_version', offset just past the blank
    line)."""
    end = buf.find(_CRLF + _CRLF, start)
    if end < 0:
        raise WarcError("unterminated WARC header block")
    lines = buf[start:end].split(_CRLF)
    m = _VERSION_RE.match(lines[0])
    if not m:
        raise WarcError(f"bad WARC version line {lines[0][:40]!r}")
    headers: dict[str, str] = {"_version": m.group(1).decode()}
    last_key = None
    for ln in lines[1:]:
        if ln[:1] in (b" ", b"\t") and last_key:        # obs-fold continuation
            headers[last_key] += " " + ln.strip().decode("utf-8", "replace")
            continue
        k, sep, v = ln.partition(b":")
        if not sep:
            raise WarcError(f"bad WARC header line {ln[:40]!r}")
        last_key = k.strip().decode("utf-8", "replace").lower()
        headers[last_key] = v.strip().decode("utf-8", "replace")
    return headers, end + 4


def _iter_plain(buf: bytes):
    pos = 0
    n = len(buf)
    while pos < n:
        # tolerate stray newlines between records
        while pos < n and buf[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        headers, body_start = _parse_header_block(buf, pos)
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise WarcError("missing/bad Content-Length") from e
        body = buf[body_start:body_start + length]
        if len(body) != length:
            raise WarcError(
                f"truncated record body: {len(body)} < {length}")
        pos = body_start + length
        if buf[pos:pos + 4] != _CRLF + _CRLF:
            raise WarcError("missing record terminator")
        pos += 4
        yield headers, body


def iter_warc_records_lenient(data: bytes):
    """Yield (headers | None, body | None, error | None) per record,
    isolating damage: in the per-record-gzip layout a malformed record
    (or a truncated tail) produces ONE error tuple and parsing continues
    with the next gzip member — the production contract for dirty
    crawl data (a bad record must never kill a 1 GB file, let alone the
    job). Plain (non-gzip) input degrades to one error tuple for the
    remainder of the buffer on first damage (no member boundaries to
    resync on)."""
    if data[:2] == b"\x1f\x8b":
        pos = 0
        n = len(data)
        while pos < n:
            d = zlib.decompressobj(wbits=31)
            try:
                member = d.decompress(data[pos:]) + d.flush()
                if not d.eof:
                    raise WarcError(f"truncated gzip member at offset {pos}")
            except (zlib.error, WarcError) as e:
                yield None, None, f"WarcError: {e}"[:200]
                return                              # cannot resync past damage
            consumed = (n - pos) - len(d.unused_data)
            if consumed <= 0:
                yield None, None, "WarcError: gzip member consumed no input"
                return
            pos += consumed
            try:
                for headers, body in _iter_plain(member):
                    yield headers, body, None
            except WarcError as e:
                yield None, None, f"WarcError: {e}"[:200]
        return
    if not data.startswith(b"WARC/"):
        yield None, None, \
            "WarcError: not a WARC payload (no gzip magic or WARC/ line)"
        return
    try:
        for headers, body in _iter_plain(data):
            yield headers, body, None
    except WarcError as e:
        yield None, None, f"WarcError: {e}"[:200]


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            raise WarcError("truncated chunked body")
        size_tok = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError as e:
            raise WarcError(f"bad chunk size {size_tok[:16]!r}") from e
        pos = eol + 2
        if size == 0:
            return bytes(out)
        if pos + size > n:
            raise WarcError("chunk extends past body")
        out += body[pos:pos + size]
        pos += size + 2                             # skip trailing CRLF


def parse_http_response(body: bytes) -> tuple[int, dict[str, str], bytes]:
    """Raw captured HTTP response -> (status, headers, payload) with
    chunked transfer-encoding and gzip/deflate content-encoding undone
    (captured responses keep the wire form)."""
    sep = body.find(_CRLF + _CRLF)
    if sep < 0:
        raise WarcError("no HTTP header/body separator")
    head_lines = body[:sep].split(_CRLF)
    status_parts = head_lines[0].split(None, 2)
    if len(status_parts) < 2 or not status_parts[0].startswith(b"HTTP/"):
        raise WarcError(f"bad HTTP status line {head_lines[0][:40]!r}")
    try:
        status = int(status_parts[1])
    except ValueError as e:
        raise WarcError("non-numeric HTTP status") from e
    headers: dict[str, str] = {}
    for ln in head_lines[1:]:
        k, s, v = ln.partition(b":")
        if s:
            headers[k.strip().decode("latin-1").lower()] = \
                v.strip().decode("latin-1")
    payload = body[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    enc = headers.get("content-encoding", "").lower().strip()
    if enc == "gzip":
        try:
            payload = gzip.decompress(payload)
        except (OSError, EOFError, zlib.error) as e:
            raise WarcError(f"bad gzip content-encoding: {e}") from e
    elif enc == "deflate":
        try:
            payload = zlib.decompress(payload)
        except zlib.error:
            try:
                payload = zlib.decompress(payload, -15)   # raw deflate
            except zlib.error as e:
                raise WarcError(f"bad deflate content-encoding: {e}") from e
    return status, headers, payload


_META_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", re.I)
_CT_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_\-]+)", re.I)


def sniff_charset(payload: bytes, content_type: str | None) -> str:
    """Deterministic charset resolution: BOM > Content-Type param >
    <meta charset> in the first 1024 bytes > utf-8."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    if content_type:
        m = _CT_CHARSET_RE.search(content_type)
        if m:
            return m.group(1).lower()
    m = _META_RE.search(payload[:1024])
    if m:
        return m.group(1).decode("ascii", "replace").lower()
    return "utf-8"


def decode_charset(payload: bytes, content_type: str | None) -> tuple[str, str]:
    """-> (text, canonical_charset_used). The declared/sniffed charset is
    tried first; on failure (or an unknown label) the cp1252 fallback
    decodes anything byte-for-byte. The reported name is the canonical
    Python codec name (`windows-1252` -> `cp1252`) so downstream
    grouping keys are label-independent."""
    import codecs

    cs = sniff_charset(payload, content_type)
    try:
        canonical = codecs.lookup(cs).name
        return payload.decode(canonical), canonical
    except (UnicodeDecodeError, LookupError):
        return payload.decode("cp1252", errors="replace"), "cp1252"
