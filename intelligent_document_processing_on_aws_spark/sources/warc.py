"""WARC ingestion source — Common Crawl `.warc.gz` files -> DataFrame.

The 100-TB entry point for webtext: Spark's `binaryFile` source lists
and distributes the files (gzip WARCs are not byte-range splittable, so
the FILE is the parallel unit — Common Crawl publishes ~1 GB files,
~80k per monthly crawl, far more files than executors at any cluster
size), and one Arrow pass per file runs the from-scratch record parser
(kernels/warc.py). Map-only lineage: ingestion scales exactly like the
listing.

Reference parity: the reference ingests documents from S3 objects/events
(lib/idp_common_pkg/idp_common — S3 fetch + queued processing); a
web-scale corpus arrives as WARC instead, so this source feeds the same
downstream extraction stage (`warc_pages` adapts to the pages schema
consumed by operators/extraction.extract_pages).

Dirty-data contract: a malformed record yields ONE error row (all
payload columns NULL, the message in `error`) and never kills the file
or the job — same loud-degrade convention as the decoders.

The source only reads and indexes archives (`build_cdx`, `fetch_records`).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("record_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("charset", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read `.warc.gz` (or plain `.warc`) files under `path` into one row
    per response record: its HTTP envelope parsed (status, de-chunk,
    content-decode) and its payload charset-decoded to `text`. Other
    record types are skipped; error rows (malformed records) are always
    kept — dropping them silently would hide corruption from the audit."""
    from ..kernels.warc import (
        WarcError,
        decode_charset,
        iter_warc_records_lenient,
        parse_http_response,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_val, content in zip(pdf["path"], pdf["content"]):
                rows = {f.name: [] for f in WARC_SCHEMA.fields}
                base = os.path.basename(str(path_val))

                def emit(**kw):
                    for f in WARC_SCHEMA.fields:
                        rows[f.name].append(kw.get(f.name))

                for headers, body, err in iter_warc_records_lenient(
                        bytes(content)):
                    if err is not None:
                        emit(warc_file=base, error=err)
                        continue
                    rtype = headers.get("warc-type", "")
                    if rtype != "response":
                        continue
                    common = {
                        "warc_file": base,
                        "record_id": headers.get("warc-record-id"),
                        "record_type": rtype,
                        "url": headers.get("warc-target-uri"),
                        "warc_date": headers.get("warc-date"),
                    }
                    try:
                        status, http_headers, payload = \
                            parse_http_response(body)
                        ct = http_headers.get("content-type")
                        text, charset = decode_charset(payload, ct)
                        emit(status=status, content_type=ct,
                             charset=charset, text=text, **common)
                    except WarcError as e:
                        emit(error=f"WarcError: {e}"[:200], **common)
                if rows["warc_file"]:
                    yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(run, WARC_SCHEMA)


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC responses -> the `pages(url, warc_ts, html, text, lang)`
    schema consumed by operators/extraction.extract_pages
    (jobs/ingest_warc.py runs `warc_pages` -> extraction). Charset is already normalized, so html is the utf-8 re-encoding of
    the decoded text; non-200 and error records are dropped here (they
    remain auditable via read_warc itself)."""
    recs = read_warc(spark, path)
    return (
        recs.where(F.col("error").isNull() & (F.col("status") == 200))
        .select(
            F.col("url"),
            F.to_timestamp("warc_date").alias("warc_ts"),
            F.encode("text", "utf-8").alias("html"),
            F.col("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


CDX_SCHEMA = T.StructType(
    [
        T.StructField("urlkey", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("filename", T.StringType()),
    ]
)


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX index GENERATION: one pass over `.warc.gz` files -> one row
    per fetchable response capture, Common Crawl cc-index column
    conventions (SURT urlkey, 14-digit timestamp, sha1-b32 payload
    digest, COMPRESSED member (offset, length) span, absolute file
    path in `filename` so fetch_records can re-open it).

    Same 100-TB shape as read_warc: the file is the parallel unit, the
    index is a map-only projection of the archive — build once, then
    every later selection (a filter over this table) reads the small
    index instead of 100 TB of WARC.  Non-response records and damaged
    members are not indexed (they are auditable via read_warc; an index
    row must denote a fetchable span)."""
    import base64
    import hashlib

    from ..kernels.warc import (
        WarcError,
        iter_warc_members,
        parse_http_response,
        surt_urlkey,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_val, content in zip(pdf["path"], pdf["content"]):
                fname = str(path_val)
                if fname.startswith("file:"):
                    fname = fname[len("file:"):]
                rows = {f.name: [] for f in CDX_SCHEMA.fields}
                for off, ln, headers, body, err in iter_warc_members(
                        bytes(content)):
                    if err is not None or headers is None:
                        continue
                    if headers.get("warc-type") != "response":
                        continue
                    try:
                        status, http_headers, payload = \
                            parse_http_response(body)
                    except WarcError:
                        continue
                    url = headers.get("warc-target-uri") or ""
                    ts = "".join(
                        c for c in (headers.get("warc-date") or "")
                        if c.isdigit())[:14]
                    mime = (http_headers.get("content-type") or "").split(
                        ";")[0].strip().lower() or None
                    digest = "sha1:" + base64.b32encode(
                        hashlib.sha1(payload).digest()).decode()
                    rows["urlkey"].append(surt_urlkey(url))
                    rows["ts"].append(ts)
                    rows["url"].append(url)
                    rows["status"].append(str(status))
                    rows["mime"].append(mime)
                    rows["digest"].append(digest)
                    rows["length"].append(ln)
                    rows["offset"].append(off)
                    rows["filename"].append(fname)
                if rows["urlkey"]:
                    yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(run, CDX_SCHEMA)


REVISIT_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("profile", T.StringType()),
        T.StructField("payload_digest", T.StringType()),
        T.StructField("refers_to", T.StringType()),
        T.StructField("refers_to_uri", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_warc_revisits(spark: SparkSession, path: str) -> DataFrame:
    """Revisit records only — Common Crawl's cross-crawl dedup pointers.

    A revisit record (WARC 1.0 §6.7, profile identical-payload-digest)
    asserts "this capture's payload is byte-identical to an earlier
    capture" and carries the payload's sha1-b32 digest instead of the
    body; in recent Common Crawl monthlies a large fraction of captures
    arrive this way. Same map-only shape as read_warc: the file is the
    parallel unit, one Arrow pass per file."""
    from ..kernels.warc import iter_warc_records_lenient

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_val, content in zip(pdf["path"], pdf["content"]):
                rows = {f.name: [] for f in REVISIT_SCHEMA.fields}
                base = os.path.basename(str(path_val))

                def emit(**kw):
                    for f in REVISIT_SCHEMA.fields:
                        rows[f.name].append(kw.get(f.name))

                for headers, body, err in iter_warc_records_lenient(
                        bytes(content)):
                    if err is not None:
                        emit(warc_file=base, error=err)
                        continue
                    if headers.get("warc-type") != "revisit":
                        continue
                    emit(
                        warc_file=base,
                        record_id=headers.get("warc-record-id"),
                        url=headers.get("warc-target-uri"),
                        warc_date=headers.get("warc-date"),
                        profile=headers.get("warc-profile"),
                        payload_digest=headers.get("warc-payload-digest"),
                        refers_to=headers.get("warc-refers-to"),
                        refers_to_uri=headers.get(
                            "warc-refers-to-target-uri"),
                    )
                if rows["warc_file"]:
                    yield pd.DataFrame(rows)

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(run, REVISIT_SCHEMA)


def resolve_revisits(revisits: DataFrame, cdx: DataFrame) -> DataFrame:
    """Resolve revisit records against a capture index (build_cdx
    output): for each revisit, find the earlier capture whose
    (payload digest, url) matches and name its fetchable span — the
    Common-Crawl access pattern (revisit -> cc-index lookup -> ranged
    fetch of the referred bytes via fetch_records). Ties (the same
    url+digest captured more than once) resolve to the EARLIEST ts,
    then lexicographic filename/offset — deterministic min-witness.

    Output: every revisit row + (resolved, capture_ts, capture_file,
    capture_offset, capture_length). Digest-less revisits (profile
    server-not-modified) and digests never captured stay unresolved
    with NULL capture columns — an audit row, never a silent drop.

    100-TB shape: one equi-shuffle join on (digest, url) between the
    revisit table and the (small, columnar) index — the archive itself
    is never touched; only spans a caller then fetches are read."""
    cap = cdx.select(
        F.col("digest").alias("__digest"),
        F.col("url").alias("__url"),
        F.struct(
            F.col("ts").alias("ts"),
            F.col("filename").alias("filename"),
            F.col("offset").alias("offset"),
            F.col("length").alias("length"),
        ).alias("__cap"),
    ).groupBy("__digest", "__url").agg(F.min("__cap").alias("__cap"))
    joined = revisits.join(
        cap,
        (revisits["payload_digest"] == cap["__digest"])
        & (revisits["url"] == cap["__url"]),
        "left",
    )
    return joined.select(
        *[F.col(f.name) for f in revisits.schema.fields],
        F.col("__cap").isNotNull().alias("resolved"),
        F.col("__cap.ts").alias("capture_ts"),
        F.col("__cap.filename").alias("capture_file"),
        F.col("__cap.offset").alias("capture_offset"),
        F.col("__cap.length").alias("capture_length"),
    )


# the JSON member set served by the cc-index CDXJ lines (all values are
# JSON strings in the wire format; numeric casts happen after parse)
CDX_JSON_SCHEMA = (
    "url string, status string, mime string, digest string, "
    "length string, offset string, filename string, languages string"
)


def parse_cdxj(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Common Crawl's published CDXJ index lines (``<urlkey> <14-digit
    timestamp> <json>``) -> typed capture columns plus a ``valid`` flag:
    the same filename/offset/length spans build_cdx writes, so a
    selection over either index feeds fetch_records.

    Pure codegen: ``substring_index`` isolates the urlkey and timestamp
    head; the JSON tail starts one byte past the second delimiter, so
    embedded spaces inside the JSON survive, and ``from_json``
    (PERMISSIVE) parses it JVM-side.  A corrupt tail or a short head
    comes back ``valid = false`` with NULL fields, never a job crash.
    """
    l = F.col(line_col)
    head2 = F.substring_index(l, " ", 2)
    tail = F.expr(
        f"substring({line_col}, length(substring_index({line_col}, ' ', 2)) + 2)"
    )
    rec = F.from_json(tail, CDX_JSON_SCHEMA)
    parsed = lines.select(
        F.substring_index(l, " ", 1).alias("urlkey"),
        F.substring_index(head2, " ", -1).alias("ts"),
        rec.alias("_r"),
        # a well-formed line has at least "<k> <ts> {": the head must be
        # strictly shorter than the line and the tail must parse to a
        # record with a url (from_json gives an all-NULL struct on junk)
        (
            (F.length(head2) < F.length(l))
            & rec.isNotNull()
            & rec["url"].isNotNull()
        ).alias("valid"),
    )
    return parsed.select(
        "urlkey",
        "ts",
        F.col("_r.url").alias("url"),
        F.col("_r.status").alias("status"),
        F.col("_r.mime").alias("mime"),
        F.col("_r.digest").alias("digest"),
        F.col("_r.length").cast("bigint").alias("length"),
        F.col("_r.offset").cast("bigint").alias("offset"),
        F.col("_r.filename").alias("filename"),
        F.col("_r.languages").alias("languages"),
        "valid",
    )


def cdx_select(
    parsed: DataFrame,
    statuses: tuple[str, ...] = ("200",),
    mimes: tuple[str, ...] | None = ("text/html",),
    languages: tuple[str, ...] | None = None,
) -> DataFrame:
    """Capture selection over parse_cdxj rows: valid rows matching the
    allowlists.  ``languages`` matches CDXJ's comma-joined language
    member (a capture counts if ANY of its languages is allowed).  A
    scan-stage filter, no Exchange."""
    cond = F.col("valid") & F.col("status").isin(*statuses)
    if mimes is not None:
        cond = cond & F.col("mime").isin(*mimes)
    if languages is not None:
        langs = F.split(F.coalesce(F.col("languages"), F.lit("")), ",")
        cond = cond & F.arrays_overlap(
            langs, F.array(*[F.lit(x) for x in languages])
        )
    return parsed.where(cond)


def _fetch_plan(selected: DataFrame) -> DataFrame:
    """Order a selection for sequential ranged reads: one Exchange on
    the archive filename, offsets sorted within each partition, so no
    file straddles two partitions and each task walks its files in
    (filename, offset) order."""
    return selected.repartition("filename").sortWithinPartitions(
        "filename", "offset")


def fetch_records(selected: DataFrame, emit_text: bool = True) -> DataFrame:
    """Ranged fetch of SELECTED captures only — the Common-Crawl access
    pattern: never rescan the archive; read exactly the (offset, length)
    spans the index selection names.

    Input is any selection of build_cdx or parse_cdxj rows (columns
    filename/offset/length at minimum).  Ordered by _fetch_plan, each
    task walks every file monotonically — locally a seek+read per span,
    on S3 the same loop issues sequential HTTP range requests.  Each
    span decompresses independently (per-record gzip members), which is
    the whole point of the layout.  A damaged span yields one error row,
    never a task failure."""
    from ..kernels.warc import (
        WarcError,
        decode_charset,
        parse_http_response,
        parse_member_bytes,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handle = {"name": None, "f": None}

        def read_span(fname: str, off: int, ln: int) -> bytes:
            if handle["name"] != fname:             # sorted walk: one open
                if handle["f"] is not None:
                    handle["f"].close()
                handle["name"], handle["f"] = fname, open(fname, "rb")
            handle["f"].seek(off)
            return handle["f"].read(ln)

        for pdf in batches:
            rows = {f.name: [] for f in WARC_SCHEMA.fields}

            def emit(**kw):
                for f in WARC_SCHEMA.fields:
                    rows[f.name].append(kw.get(f.name))

            for fname, off, ln in zip(
                    pdf["filename"], pdf["offset"], pdf["length"]):
                base = os.path.basename(str(fname))
                try:
                    chunk = read_span(str(fname), int(off), int(ln))
                    for headers, body in parse_member_bytes(chunk):
                        if headers.get("warc-type") != "response":
                            continue
                        status, http_headers, payload = \
                            parse_http_response(body)
                        ct = http_headers.get("content-type")
                        text = charset = None
                        if emit_text:
                            text, charset = decode_charset(payload, ct)
                        emit(
                            warc_file=base,
                            record_id=headers.get("warc-record-id"),
                            record_type="response",
                            url=headers.get("warc-target-uri"),
                            warc_date=headers.get("warc-date"),
                            status=status, content_type=ct,
                            charset=charset, text=text,
                        )
                except (WarcError, OSError) as e:
                    emit(warc_file=base, error=f"{type(e).__name__}: {e}"[:200])
            if handle["f"] is not None:
                handle["f"].close()
                handle["name"], handle["f"] = None, None
            if rows["warc_file"]:
                yield pd.DataFrame(rows)

    return _fetch_plan(selected).mapInPandas(run, WARC_SCHEMA)

