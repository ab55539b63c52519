"""Deterministic Common-Crawl-style `.warc.gz` fixture writer + golden.

Writes spec-conformant WARC 1.0 files in the per-record-gzip-member
layout (kernels/warc.py docstring) whose response payloads are the
pages_gen HTML corpus — so WARC ingestion composes with the extraction
pipeline and its byte-identity goldens.

The writer and the golden derive from the same closed-form
`_record_plan` (status / charset / wire-encoding rotations are pure
functions of (file_idx, record_idx)); the golden NEVER calls the
reading kernel — parse, de-chunk, content-decode and charset handling
are all inside the verified loop (the image_resize oracle pattern).

Per-file record mix: 1 warcinfo + 1 request + N_RESP responses + 1
revisit; every 13th response record is CORRUPTED (its version line is
rewritten to `WARC/bad` inside an otherwise valid gzip member) — the
lenient reader must emit exactly one error row for it and keep going.
"""

from __future__ import annotations

import gzip
import hashlib
import struct
import zlib

from .pages_gen import gen_page

N_FILES = 4
N_RESP = 30
_PAGE_STRIDE = 1000                                 # page index base per file

_CP1252_SUFFIX = "\nrésumé café naïve"   # cp1252-encodable
_UTF8_SUFFIX = "\nsnowman ☃ umbrella ☂"            # utf-8 only


def _gzip_member(payload: bytes) -> bytes:
    """One deterministic gzip member (mtime pinned to 0)."""
    buf = bytearray()
    buf += b"\x1f\x8b\x08\x00" + struct.pack("<I", 0) + b"\x00\xff"
    comp = zlib.compressobj(6, zlib.DEFLATED, -15)
    buf += comp.compress(payload) + comp.flush()
    buf += struct.pack("<I", zlib.crc32(payload) & 0xFFFFFFFF)
    buf += struct.pack("<I", len(payload) & 0xFFFFFFFF)
    return bytes(buf)


def _warc_record(headers: list[tuple[str, str]], body: bytes,
                 corrupt: bool = False) -> bytes:
    length = len(body)
    version = b"WARC/bad" if corrupt else b"WARC/1.0"
    head = version + b"\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in headers
    ) + f"Content-Length: {length}\r\n".encode() + b"\r\n"
    return head + body + b"\r\n\r\n"


def _record_id(file_idx: int, rec_idx: int) -> str:
    h = hashlib.md5(f"warc-{file_idx}-{rec_idx}".encode()).hexdigest()
    return (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>")


def _record_plan(file_idx: int, j: int) -> dict:
    """Closed-form plan for response record j of file file_idx. Both the
    writer and the golden read ONLY this."""
    i = file_idx * _PAGE_STRIDE + j
    page = gen_page(i)
    status = 404 if j % 11 == 9 else 200
    if status == 404:
        text = f"not found: page {i}"
    else:
        text = page["html"].decode("ascii")
    # charset rotation (disjoint branches so the golden stays obvious):
    #   j%4==0 -> cp1252 declared in Content-Type, cp1252 marker suffix
    #   j%6==3 -> cp1252 via <meta charset> sniff (no Content-Type param)
    #   else   -> utf-8 (declared), every 3rd with a non-ASCII marker
    if j % 4 == 0:
        text += _CP1252_SUFFIX
        charset, declared, meta = "cp1252", "windows-1252", None
    elif j % 6 == 3:
        text = '<meta charset="windows-1252">\n' + text + _CP1252_SUFFIX
        charset, declared, meta = "cp1252", None, "windows-1252"
    else:
        if j % 3 == 0:
            text += _UTF8_SUFFIX
        charset, declared, meta = "utf-8", "utf-8", None
    # wire-form rotation (applied after charset encode):
    #   j%5==1 -> chunked transfer-encoding
    #   j%7==2 -> gzip content-encoding
    #   j%7==5 -> deflate content-encoding
    wire = ("chunked" if j % 5 == 1
            else "gzip" if j % 7 == 2
            else "deflate" if j % 7 == 5 else "plain")
    corrupt = (status == 200 and j % 13 == 12)
    ct = "text/html" + (f"; charset={declared}" if declared else "")
    return {
        "page_index": i,
        "url": page["url"],
        "warc_date": page["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
        "status": status,
        "text": text,
        "charset": charset,
        "content_type": ct,
        "wire": wire,
        "corrupt": corrupt,
        "meta": meta,
    }


def _encode_body(plan: dict) -> bytes:
    raw = plan["text"].encode(plan["charset"])
    http_headers = [("Content-Type", plan["content_type"])]
    body = raw
    if plan["wire"] == "gzip":
        body = gzip.compress(raw, 6, mtime=0)
        http_headers.append(("Content-Encoding", "gzip"))
    elif plan["wire"] == "deflate":
        body = zlib.compress(raw, 6)
        http_headers.append(("Content-Encoding", "deflate"))
    elif plan["wire"] == "chunked":
        chunks = bytearray()
        for off in range(0, len(raw), 512):
            part = raw[off:off + 512]
            chunks += f"{len(part):x}\r\n".encode() + part + b"\r\n"
        chunks += b"0\r\n\r\n"
        body = bytes(chunks)
        http_headers.append(("Transfer-Encoding", "chunked"))
    reason = "OK" if plan["status"] == 200 else "Not Found"
    head = f"HTTP/1.1 {plan['status']} {reason}\r\n".encode()
    head += b"".join(f"{k}: {v}\r\n".encode() for k, v in http_headers)
    head += f"Content-Length: {len(body)}\r\n".encode() + b"\r\n"
    return head + body


def gen_warc_file(file_idx: int) -> bytes:
    """One deterministic `.warc.gz` in the per-record-member layout."""
    members = []
    info_body = (b"software: fixture-writer/1.0\r\n"
                 b"format: WARC File Format 1.0\r\n")
    members.append(_warc_record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", "2025-01-01T00:00:00Z"),
         ("WARC-Record-ID", _record_id(file_idx, -1)),
         ("Content-Type", "application/warc-fields")], info_body))
    req_plan = _record_plan(file_idx, 0)
    req_body = (f"GET {req_plan['url']} HTTP/1.1\r\n"
                f"Host: example\r\n\r\n").encode()
    members.append(_warc_record(
        [("WARC-Type", "request"),
         ("WARC-Target-URI", req_plan["url"]),
         ("WARC-Date", req_plan["warc_date"]),
         ("WARC-Record-ID", _record_id(file_idx, -2)),
         ("Content-Type", "application/http; msgtype=request")], req_body))
    for j in range(N_RESP):
        plan = _record_plan(file_idx, j)
        body = _encode_body(plan)
        members.append(_warc_record(
            [("WARC-Type", "response"),
             ("WARC-Target-URI", plan["url"]),
             ("WARC-Date", plan["warc_date"]),
             ("WARC-Record-ID", _record_id(file_idx, j)),
             ("Content-Type", "application/http; msgtype=response")],
            body,
            corrupt=plan["corrupt"]))
    members.append(_warc_record(
        [("WARC-Type", "revisit"),
         ("WARC-Target-URI", _record_plan(file_idx, 1)["url"]),
         ("WARC-Date", "2025-01-02T00:00:00Z"),
         ("WARC-Record-ID", _record_id(file_idx, -3)),
         ("WARC-Profile",
          "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
         ("Content-Type", "application/http; msgtype=response")], b""))
    return b"".join(_gzip_member(m) for m in members)


def golden_rows(file_idx: int) -> list[dict]:
    """Expected reader output for file file_idx, derived ONLY from
    _record_plan (closed form — no kernel calls). Response records
    only (the source's default record_type filter); the corrupt record
    appears as an error row with every payload column NULL."""
    rows = []
    for j in range(N_RESP):
        plan = _record_plan(file_idx, j)
        if plan["corrupt"]:
            rows.append({
                "record_id": None, "url": None, "warc_date": None,
                "status": None, "content_type": None, "charset": None,
                "text_sha1": None, "n_chars": None,
                "error": "WarcError: bad WARC version line b'WARC/bad'",
            })
            continue
        rows.append({
            "record_id": _record_id(file_idx, j),
            "url": plan["url"],
            "warc_date": plan["warc_date"],
            "status": plan["status"],
            "content_type": plan["content_type"],
            "charset": plan["charset"],
            "text_sha1": hashlib.sha1(
                plan["text"].encode("utf-8")).hexdigest(),
            "n_chars": len(plan["text"]),
            "error": None,
        })
    return rows
