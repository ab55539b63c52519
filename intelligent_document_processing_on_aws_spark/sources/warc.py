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
