"""WARC ingestion job — Common-Crawl-style `.warc.gz` -> extracted text.

Usage (local or cluster):
  spark-submit --py-files idp_spark.zip jobs/ingest_warc.py \
      --input fixtures_data/warc \
      --output /tmp/warc_ingested \
      [--salt-partitions 64] [--raw]

The full webtext entry path: binaryFile-distributed WARC files ->
from-scratch record parse / HTTP envelope / charset decode
(kernels/warc.py via sources/warc.py) -> pages schema -> the vectorized
main-content extraction stage, salted by url hash into --salt-partitions
(else spark.sql.shuffle.partitions) partitions -> parquet partitioned by
content_type.
With --raw, stops after record parsing and writes the record table
(incl. error rows) instead — the audit surface for dirty crawls.

Prints a one-line JSON summary: files, records, error_records, rows,
sec, docs_per_sec.

100-TB notes: gzip WARCs are file-granular (kernels/warc.py docstring) —
parallelism comes from the file count (~80k/crawl), which binaryFile
partitioning handles; downstream skew is handled by the same url-hash
salt as jobs/extract.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.operators.extraction import extract_pages  # noqa: E402
from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402
from intelligent_document_processing_on_aws_spark.sources.warc import read_warc, warc_pages  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir/glob of .warc(.gz) files")
    ap.add_argument("--output", required=True)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--raw", action="store_true",
                    help="write the parsed record table (with error rows) "
                         "instead of running extraction")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("idp-ingest-warc", master=args.master)
    t0 = time.time()
    if args.raw:
        read_warc(spark, args.input).write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        stats = out.agg(
            F.count("*").alias("records"),
            F.count("error").alias("error_records"),
            F.countDistinct("warc_file").alias("files"),
        ).collect()[0]
        sec = round(time.time() - t0, 2)
        print(json.dumps({
            "files": stats["files"], "records": stats["records"],
            "error_records": stats["error_records"], "rows": stats["records"],
            "sec": sec,
            "docs_per_sec": round(stats["records"] / sec, 1) if sec else None,
        }))
        return 0

    pages = warc_pages(spark, args.input)
    result = extract_pages(pages, salt_partitions=args.salt_partitions)
    result.write.mode("overwrite").partitionBy("content_type") \
        .parquet(args.output)
    out = spark.read.parquet(args.output)
    rows = out.count()
    sec = round(time.time() - t0, 2)
    print(json.dumps({
        "rows": rows, "sec": sec,
        "docs_per_sec": round(rows / sec, 1) if sec else None,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
