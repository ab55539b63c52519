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
    iter_warc_records,
    iter_warc_records_lenient,
    parse_http_response,
    sniff_charset,
)

SIMPLE = (b"WARC/1.0\r\n"
          b"WARC-Type: response\r\n"
          b"WARC-Target-URI: https://x.example/a\r\n"
          b"Content-Length: 5\r\n\r\n"
          b"hello\r\n\r\n")


def test_plain_and_gzip_layouts():
    recs = list(iter_warc_records(SIMPLE * 3))
    assert len(recs) == 3
    assert recs[0][0]["warc-type"] == "response"
    assert recs[0][1] == b"hello"
    # single-member gzip of the whole file
    assert len(list(iter_warc_records(gzip.compress(SIMPLE * 3, mtime=0)))) == 3
    # per-record members (Common Crawl layout)
    cc = b"".join(gzip.compress(SIMPLE, mtime=0) for _ in range(3))
    assert len(list(iter_warc_records(cc))) == 3


def test_header_continuation_and_version():
    rec = (b"WARC/1.1\r\n"
           b"WARC-Type: response\r\n"
           b"X-Long: part one\r\n\t and two\r\n"
           b"Content-Length: 0\r\n\r\n"
           b"\r\n\r\n")
    headers, body = next(iter_warc_records(rec))
    assert headers["_version"] == "1.1"
    assert headers["x-long"] == "part one and two"
    assert body == b""


@pytest.mark.parametrize("bad", [
    b"",
    b"NOTWARC",
    SIMPLE[:20],                                    # unterminated header
    SIMPLE.replace(b"Content-Length: 5", b"Content-Length: 99"),
    SIMPLE[:-4],                                    # missing terminator
    gzip.compress(SIMPLE, mtime=0)[:-6],            # truncated gzip member
])
def test_malformed_raises(bad):
    with pytest.raises(WarcError):
        list(iter_warc_records(bad))


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


# ---------------------------------------------------------------------------
# CDX index generation + ranged fetch (build_cdx / fetch_records)
# ---------------------------------------------------------------------------


def test_iter_warc_members_spans_are_standalone_gzip_members():
    from intelligent_document_processing_on_aws_spark.kernels.warc import (
        iter_warc_members,
        parse_member_bytes,
    )

    data = open("fixtures_data/warc/cc-00000.warc.gz", "rb").read()
    members = list(iter_warc_members(data))
    # the fixtures plant corrupt records: those yield error tuples but
    # never break the walk
    errs = [e for *_, e in members if e]
    assert members and len(errs) == 2 and all("WARC version" in e
                                              for e in errs)
    # spans tile the file: sorted, non-overlapping, covering every byte
    spans = sorted(set((o, ln) for o, ln, *_ in members))
    pos = 0
    for o, ln in spans:
        assert o == pos
        pos += ln
    assert pos == len(data)
    # each clean span re-parses standalone to the identical record
    for off, ln, headers, body, err in members:
        if err is not None:
            continue
        got = parse_member_bytes(data[off:off + ln])
        assert [h.get("warc-record-id") for h, _ in got] == \
            [headers.get("warc-record-id")]


def test_build_cdx_then_fetch_matches_full_scan(spark):
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        cdx_select,
    )
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        build_cdx,
        fetch_records,
        read_warc,
    )

    idx = build_cdx(spark, "fixtures_data/warc")
    sel = cdx_select(
        idx.withColumn("valid", F.lit(True)), statuses=("200",), mimes=None
    )
    fetched = {
        r["url"]: r
        for r in fetch_records(sel).collect()
    }
    full = {
        r["url"]: r
        for r in read_warc(spark, "fixtures_data/warc")
        .where((F.col("status") == 200) & F.col("error").isNull())
        .collect()
    }
    assert set(fetched) == set(full)
    for url, r in full.items():
        assert fetched[url]["text"] == r["text"], url
        assert fetched[url]["charset"] == r["charset"], url


def test_fetch_records_reads_only_selected_spans(spark):
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.sources.warc import (
        build_cdx,
        fetch_records,
    )

    idx = build_cdx(spark, "fixtures_data/warc")
    one = idx.where(F.col("status") == "200").orderBy("urlkey").limit(1)
    want = one.collect()[0]
    got = fetch_records(one).collect()
    assert len(got) == 1
    assert got[0]["url"] == want["url"]


def test_fetch_records_damaged_span_degrades_to_error_row(spark, tmp_path):
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        fetch_records,
    )

    src = open("fixtures_data/warc/cc-00000.warc.gz", "rb").read()
    p = tmp_path / "x.warc.gz"
    p.write_bytes(src)
    sel = spark.createDataFrame(
        [(str(p), 3, 40)],  # mid-member garbage span
        "filename string, offset long, length long",
    )
    rows = fetch_records(sel).collect()
    assert len(rows) == 1
    assert rows[0]["error"] and rows[0]["text"] is None


def test_build_cdx_digest_and_urlkey_shape(spark):
    import re as _re

    from intelligent_document_processing_on_aws_spark.sources.warc import (
        build_cdx,
    )

    rows = build_cdx(spark, "fixtures_data/warc").collect()
    assert rows
    for r in rows:
        assert _re.fullmatch(r"sha1:[A-Z2-7]{32}", r["digest"])
        assert ")/" in r["urlkey"]
        assert _re.fullmatch(r"\d{14}", r["ts"])
        assert r["length"] > 0 and r["offset"] >= 0


# ---------------------------------------------------------------------------
# WET writer (write_wet) — conversion records, deterministic bytes
# ---------------------------------------------------------------------------


def test_write_wet_roundtrips_through_read_warc(spark, tmp_path):
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.sources.warc import (
        read_warc,
        write_wet,
    )

    rows = [(f"https://x{i % 4}.com/p/{i}", f"text body {i} café",
             "2024-03-01T00:00:00Z") for i in range(37)]
    df = spark.createDataFrame(rows, "url string, text string, warc_date string")
    out = tmp_path / "wet"
    n = write_wet(df, str(out), date_col="warc_date", num_files=3)
    assert n == 37

    back = read_warc(spark, str(out), record_types=("conversion",))
    got = {r["url"]: r for r in back.collect()}
    assert set(got) == {u for u, *_ in rows}
    for u, t, d in rows:
        assert got[u]["text"] == t
        assert got[u]["warc_date"] == d
        assert got[u]["error"] is None


def test_write_wet_bytes_are_deterministic(spark, tmp_path):
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        write_wet,
    )

    rows = [(f"https://d.com/{i}", f"body {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "url string, text string")
    a, b = tmp_path / "a", tmp_path / "b"
    write_wet(df, str(a), num_files=2)
    write_wet(df.repartition(7), str(b), num_files=2)  # input partitioning irrelevant
    fa = sorted(p.name for p in a.iterdir())
    fb = sorted(p.name for p in b.iterdir())
    assert fa == fb
    for name in fa:
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_write_wet_output_is_cdx_indexable(spark, tmp_path):
    """WET output is a first-class archive: build_cdx must NOT index it
    as responses (conversion records are not fetchable captures), but
    iter_warc_members must span it cleanly."""
    from intelligent_document_processing_on_aws_spark.kernels.warc import (
        iter_warc_members,
    )
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        write_wet,
    )

    df = spark.createDataFrame(
        [("https://w.com/1", "alpha"), ("https://w.com/2", "beta")],
        "url string, text string",
    )
    out = tmp_path / "wet"
    write_wet(df, str(out), num_files=1)
    data = next(out.iterdir()).read_bytes()
    members = list(iter_warc_members(data))
    assert len(members) == 2 and all(e is None for *_, e in members)
    assert sum(ln for _, ln, *_ in members) == len(data)


# ---------------------------------------------------------------------------
# WAT writer (write_wat) — metadata records, JSON envelope, deterministic
# ---------------------------------------------------------------------------


def test_write_wat_envelope_roundtrip(spark, tmp_path):
    """WAT output parses back as WARC metadata records whose JSON envelope
    carries the title and ALL links (relative included) in page order."""
    import json

    from intelligent_document_processing_on_aws_spark.kernels.warc import (
        iter_warc_records,
    )
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        write_wat,
    )

    rows = [(
        f"https://s{i % 3}.com/{i}",
        f'<html><head><title>Page {i}</title></head><body>'
        f'<a href="https://t.com/{i}">go {i}</a>'
        f'<a href="/rel/{i}">rel {i}</a></body></html>',
        "2024-03-01T00:00:00Z",
    ) for i in range(11)]
    df = spark.createDataFrame(rows, "url string, html string, warc_date string")
    out = tmp_path / "wat"
    n = write_wat(df, str(out), date_col="warc_date", num_files=2)
    assert n == 11

    got = {}
    for p in sorted(out.iterdir()):
        for headers, payload in iter_warc_records(p.read_bytes()):
            assert headers["warc-type"] == "metadata"
            assert headers["content-type"] == "application/json"
            env = json.loads(payload)["Envelope"]
            url = env["WARC-Header-Metadata"]["WARC-Target-URI"]
            got[url] = env["Payload-Metadata"]["HTTP-Response-Metadata"][
                "HTML-Metadata"]
    assert set(got) == {u for u, *_ in rows}
    for u, _h, _d in rows:
        i = int(u.rsplit("/", 1)[1])
        meta = got[u]
        assert meta["Head"]["Title"] == f"Page {i}"
        assert meta["Links"] == [
            {"url": f"https://t.com/{i}", "text": f"go {i}"},
            {"url": f"/rel/{i}", "text": f"rel {i}"},
        ]


def test_write_wat_bytes_are_deterministic(spark, tmp_path):
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        write_wat,
    )

    rows = [(f"https://d.com/{i}",
             f'<a href="https://e.com/{i}">x {i}</a>') for i in range(20)]
    df = spark.createDataFrame(rows, "url string, html string")
    a, b = tmp_path / "a", tmp_path / "b"
    write_wat(df, str(a), num_files=2)
    write_wat(df.repartition(7), str(b), num_files=2)
    fa = sorted(p.name for p in a.iterdir())
    fb = sorted(p.name for p in b.iterdir())
    assert fa == fb
    for name in fa:
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_wat_metadata_plan_is_map_only(spark):
    """The html -> (title, links) parse is pure Catalyst: no Python, no
    Exchange — a map-only projection that scales exactly like the scan."""
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        wat_metadata,
    )

    df = spark.createDataFrame(
        [("https://a.com/1", "<title>t</title>")], "url string, html string")
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        wat_metadata(df)._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Exchange" not in plan


def test_read_wat_roundtrips_wat_metadata(spark, tmp_path):
    """read_wat is the exact inverse of write_wat: url/date/title/links
    survive the archive round trip; a damaged member degrades to an
    error row that read_wat filters (never a crash)."""
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        read_wat,
        wat_metadata,
        write_wat,
    )

    rows = [(
        f"https://s{i % 3}.com/{i}",
        f'<html><head><title>T {i}</title></head><body>'
        f'<a href="https://t.com/{i}">go {i}</a></body></html>',
        "2024-05-01T00:00:00Z",
    ) for i in range(9)]
    df = spark.createDataFrame(rows, "url string, html string, warc_date string")
    out = tmp_path / "wat"
    write_wat(df, str(out), date_col="warc_date", num_files=1)

    back = {r.url: r for r in read_wat(spark, str(out)).collect()}
    orig = {r.url: r for r in
            wat_metadata(df, date_col="warc_date").collect()}
    assert set(back) == set(orig)
    for u, o in orig.items():
        b = back[u]
        assert b.title == o.title and b.date == o.date
        assert [(l["url"], l["text"]) for l in b.links] == \
               [(l["url"], l["text"]) for l in o.links]
