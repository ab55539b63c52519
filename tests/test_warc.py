"""WARC ingestion: from-scratch record parser (kernels/warc), the
fixture writer's closed-form golden, the Spark source (sources/warc),
and composition into the extraction stage."""

from __future__ import annotations

import gzip
import hashlib

import pytest

from intelligent_document_processing_on_aws_spark.fixtures.warc_gen import (
    N_RESP,
    _PAGE_STRIDE,
    gen_warc_file,
    golden_rows,
)
from intelligent_document_processing_on_aws_spark.kernels.warc import (
    WarcError,
    decode_charset,
    iter_warc_records_lenient,
    parse_http_response,
    sniff_charset,
)

SIMPLE = (b"WARC/1.0\r\n"
          b"WARC-Type: response\r\n"
          b"WARC-Target-URI: https://x.example/a\r\n"
          b"Content-Length: 5\r\n\r\n"
          b"hello\r\n\r\n")


def _records(data: bytes) -> list:
    out = list(iter_warc_records_lenient(data))
    assert all(err is None for _, _, err in out), out
    return [(headers, body) for headers, body, _ in out]


def test_plain_and_gzip_layouts():
    recs = _records(SIMPLE * 3)
    assert len(recs) == 3
    assert recs[0][0]["warc-type"] == "response"
    assert recs[0][1] == b"hello"
    # single-member gzip of the whole file
    assert len(_records(gzip.compress(SIMPLE * 3, mtime=0))) == 3
    # per-record members (Common Crawl layout)
    cc = b"".join(gzip.compress(SIMPLE, mtime=0) for _ in range(3))
    assert len(_records(cc)) == 3


def test_header_continuation_and_version():
    rec = (b"WARC/1.1\r\n"
           b"WARC-Type: response\r\n"
           b"X-Long: part one\r\n\t and two\r\n"
           b"Content-Length: 0\r\n\r\n"
           b"\r\n\r\n")
    headers, body = _records(rec)[0]
    assert headers["_version"] == "1.1"
    assert headers["x-long"] == "part one and two"
    assert body == b""


_NOT_WARC = "not a WARC payload (no gzip magic or WARC/ line)"
_MALFORMED = {
    b"": _NOT_WARC,
    b"NOTWARC": _NOT_WARC,
    SIMPLE[:20]: "unterminated WARC header block",
    SIMPLE.replace(b"Content-Length: 5", b"Content-Length: 99"):
        "truncated record body: 9 < 99",
    SIMPLE[:-4]: "missing record terminator",
    gzip.compress(SIMPLE, mtime=0)[:-6]: "truncated gzip member at offset 0",
}


@pytest.mark.parametrize("bad", list(_MALFORMED))
def test_malformed_raises(bad):
    """Damage ends the walk in one error tuple, never an exception."""
    assert list(iter_warc_records_lenient(bad)) == \
        [(None, None, "WarcError: " + _MALFORMED[bad])]


def test_lenient_isolates_damage_per_member():
    """A corrupt middle member yields one error tuple; records before AND
    after still parse — the production dirty-crawl contract."""
    corrupt = gzip.compress(SIMPLE.replace(b"WARC/1.0", b"WARC/bad"), mtime=0)
    data = gzip.compress(SIMPLE, mtime=0) + corrupt + gzip.compress(SIMPLE, mtime=0)
    out = list(iter_warc_records_lenient(data))
    assert len(out) == 3
    assert out[0][2] is None and out[2][2] is None
    assert out[1][:2] == (None, None)
    assert "bad WARC version line" in out[1][2]
    # truncated tail: one error tuple, then stop
    out = list(iter_warc_records_lenient(
        gzip.compress(SIMPLE, mtime=0) + gzip.compress(SIMPLE, mtime=0)[:-6]))
    assert out[0][2] is None
    assert out[1][2] and "truncated gzip member" in out[1][2]
    # plain layout: damage after a good record ends the walk there (no
    # member boundaries to resync on)
    bad_length = SIMPLE.replace(b"Content-Length: 5", b"Content-Length: 99")
    out = list(iter_warc_records_lenient(SIMPLE + bad_length + SIMPLE))
    assert len(out) == 2
    assert out[0][1:] == (b"hello", None)
    assert out[1] == (None, None, "WarcError: missing record terminator")


def test_http_response_wire_forms():
    raw = b"x" * 1300
    # chunked
    body = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"514\r\n" + raw[:1300] + b"\r\n0\r\n\r\n")
    status, headers, payload = parse_http_response(body)
    assert (status, payload) == (200, raw)
    # gzip content-encoding
    body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + gzip.compress(raw, mtime=0))
    assert parse_http_response(body)[2] == raw
    # deflate (zlib-wrapped and raw)
    import zlib
    for enc in (zlib.compress(raw),
                zlib.compressobj(wbits=-15).compress(raw)
                + zlib.compressobj(wbits=-15).flush()):
        pass
    body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
            + zlib.compress(raw))
    assert parse_http_response(body)[2] == raw
    co = zlib.compressobj(wbits=-15)
    body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
            + co.compress(raw) + co.flush())
    assert parse_http_response(body)[2] == raw
    with pytest.raises(WarcError):
        parse_http_response(b"not http at all")
    with pytest.raises(WarcError):
        parse_http_response(b"HTTP/1.1 OK\r\n\r\n")


def test_charset_resolution_order():
    assert sniff_charset(b"\xef\xbb\xbfabc", None) == "utf-8-sig"
    assert sniff_charset(b"abc", "text/html; charset=ISO-8859-1") \
        == "iso-8859-1"
    assert sniff_charset(b'<meta charset="windows-1252">x', None) \
        == "windows-1252"
    assert sniff_charset(b"plain", "text/html") == "utf-8"
    # canonicalization + fallback
    text, cs = decode_charset("café".encode("cp1252"),
                              "text/html; charset=windows-1252")
    assert (text, cs) == ("café", "cp1252")
    text, cs = decode_charset("café".encode("cp1252"), None)  # invalid utf-8
    assert (text, cs) == ("café", "cp1252")
    text, cs = decode_charset("snow ☃".encode(), "text/html; charset=utf-8")
    assert (text, cs) == ("snow ☃", "utf-8")
    text, cs = decode_charset(b"x", "text/html; charset=bogus-enc")
    assert cs == "cp1252"


def test_fixture_golden_parity_driver_side():
    """Writer -> reader -> golden, no Spark: every wire form, charset
    branch, 404 and corrupt record matches the closed-form plan."""
    for k in range(2):
        got = []
        for headers, body, err in iter_warc_records_lenient(gen_warc_file(k)):
            if err is not None:
                got.append({"error": err})
                continue
            if headers.get("warc-type") != "response":
                continue
            status, hh, payload = parse_http_response(body)
            text, cs = decode_charset(payload, hh.get("content-type"))
            got.append({
                "record_id": headers["warc-record-id"],
                "url": headers["warc-target-uri"],
                "warc_date": headers["warc-date"],
                "status": status, "content_type": hh.get("content-type"),
                "charset": cs,
                "text_sha1": hashlib.sha1(text.encode()).hexdigest(),
                "n_chars": len(text), "error": None,
            })
        exp = golden_rows(k)
        assert len(got) == len(exp) == N_RESP
        for a, b in zip(got, exp):
            if a.get("error"):
                assert a["error"] == b["error"]
            else:
                assert a == b


def test_read_warc_spark_matches_golden(spark):
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        read_warc,
    )

    df = read_warc(spark, "fixtures_data/warc")
    rows = df.collect()
    assert len(rows) == 120
    errs = [r for r in rows if r.error]
    assert len(errs) == 8
    assert all("bad WARC version line" in r.error for r in errs)
    ok = [r for r in rows if not r.error]
    assert {r.status for r in ok} == {200, 404}
    assert {r.charset for r in ok} == {"utf-8", "cp1252"}


def test_warc_pages_feed_extraction_golden(spark):
    """Composition: WARC -> pages schema -> extraction stage. For
    response records whose body is the UNMODIFIED pages_gen html (no
    charset suffix, 200, not corrupt), the extraction output must be
    byte-identical to the pages_gen golden — the same contract as the
    t2 fixture sweep."""
    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import (
        gen_page,
    )
    from intelligent_document_processing_on_aws_spark.operators.extraction import (
        extract_pages,
    )
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        warc_pages,
    )

    clean_j = [j for j in range(N_RESP)
               if j % 11 != 9 and j % 13 != 12 and j % 4 != 0
               and j % 6 != 3 and j % 3 != 0]
    assert len(clean_j) >= 10
    pages = warc_pages(spark, "fixtures_data/warc")
    got = {r.url: r for r in extract_pages(pages).collect()}
    for k in range(4):
        for j in clean_j:
            page = gen_page(k * _PAGE_STRIDE + j)
            r = got[page["url"]]
            assert r.extracted_text == page["extracted_text"]
            assert r.content_type == page["content_type"]
            # lang is crawl-supplied metadata the WARC path doesn't carry
            assert r.lang is None


def _run_ingest_job(spark, argv: list[str]) -> dict:
    """jobs/ingest_warc.py's main in-process on the session fixture (its
    spark.stop patched out); returns the job's JSON summary."""
    import contextlib
    import importlib.util
    import io
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "ingest_warc_job", os.path.join(repo, "jobs", "ingest_warc.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    saved_argv, out = sys.argv, io.StringIO()
    sys.argv = [job.__file__, "--input", os.path.join(repo, "fixtures_data", "warc"),
                *argv]
    spark.stop = lambda: None
    try:
        with contextlib.redirect_stdout(out):
            assert job.main() == 0
    finally:
        del spark.stop
        sys.argv = saved_argv
    return json.loads(out.getvalue().strip().splitlines()[-1])


def test_ingest_warc_job_extracts_every_page(spark, tmp_path):
    """The job end to end: one extracted row per 200 response of the four
    fixture files (warc_pages' rows), none of them an error row."""
    import pyarrow.dataset as ds

    out = str(tmp_path / "ingested")
    summary = _run_ingest_job(spark, ["--output", out, "--salt-partitions", "4"])
    pages = sum(r["error"] is None and r["status"] == 200
                for k in range(4) for r in golden_rows(k))
    assert summary["rows"] == pages > 0
    errors = ds.dataset(out, partitioning="hive").to_table(columns=["error"])
    assert errors.num_rows == pages and errors["error"].null_count == pages


def test_ingest_warc_job_raw_audits_every_record(spark, tmp_path):
    """--raw writes the record table: every response record of the four
    fixture files, the corrupt ones as error rows, as the golden plans."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "records")
    summary = _run_ingest_job(spark, ["--output", out, "--raw"])
    gold = [r for k in range(4) for r in golden_rows(k)]
    assert summary["files"] == 4
    assert summary["records"] == summary["rows"] == len(gold)
    assert summary["error_records"] == sum(r["error"] is not None for r in gold) > 0
    cols = list(gold[0])
    got = []
    for r in pq.read_table(out).to_pylist():
        r["text_sha1"] = None if r["text"] is None else \
            hashlib.sha1(r["text"].encode()).hexdigest()
        r["n_chars"] = None if r["text"] is None else len(r["text"])
        got.append(r)
    assert sorted((tuple(r[c] for c in cols) for r in got), key=repr) == \
        sorted((tuple(r[c] for c in cols) for r in gold), key=repr)
    assert {os.path.basename(r["warc_file"]) for r in got} == \
        {f"cc-{k:05d}.warc.gz" for k in range(4)}
