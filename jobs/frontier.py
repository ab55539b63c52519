"""Crawl-frontier job: sitemaps + feeds + capture index -> polite
fetch schedule.

The discovery-side pipeline a recrawl runs before touching any page
bytes: parse the host-declared change surfaces (XML sitemaps, RSS/Atom
feeds), reduce to one declared-lastmod per URL, join against the
latest capture per URL (new-or-stale selection), and emit the per-host
politeness schedule (fetch_seq + eta_epoch under crawl-delay).

Usage:
  python jobs/frontier.py --sitemaps fixtures_data/sitemap_docs.parquet \
      [--feeds fixtures_data/feed_docs.parquet] \
      [--captures <parquet with url, capture_ts>] \
      --output /tmp/frontier_out \
      [--default-delay 1] [--max-per-host 10000] [--start-epoch N]

Inputs are parquet tables of raw payload bytes (column ``raw``); both
parse stages are map-only Arrow passes. Without --captures every URL
is 'new' (bootstrap crawl).

Shape at 100 TB: parse = scan-cost (zero Exchange); fetchlist moves one
row per DISTINCT url (both sides partial-agg before the join); the
schedule's rank-limit prunes giant hosts map-side (WindowGroupLimit)
before its single host Exchange.

Prints ONE JSON line:
{"sitemap_docs": N, "feed_docs": N, "urls": N, "new": N, "stale": N,
 "scheduled": N, "hosts": N, "sec": ...}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def _parse_stage(spark, path: str, parser_name: str):
    """Raw payload parquet -> (loc, lastmod_epoch) via one Arrow pass."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod_epoch", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the worker so the job ships via --py-files
        if parser_name == "sitemap":
            from intelligent_document_processing_on_aws_spark.kernels.sitemap import (
                parse_sitemap as parse,
            )

            def entries(raw):
                r = parse(bytes(raw))
                return [(e.loc, e.lastmod_epoch) for e in r.entries]
        else:
            from intelligent_document_processing_on_aws_spark.kernels.feeds import (
                parse_feed as parse,
            )

            def entries(raw):
                r = parse(bytes(raw))
                return [(e.link, e.pub_epoch) for e in r.entries]

        for pdf in batches:
            locs, lms = [], []
            for raw in pdf["raw"]:
                for loc, lm in entries(raw):
                    locs.append(loc)
                    lms.append(lm)
            yield pd.DataFrame({"loc": pd.Series(locs, dtype="object"),
                                "lastmod_epoch": pd.Series(lms)})

    return spark.read.parquet(path).select("raw").mapInPandas(run, schema)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sitemaps", default=None)
    ap.add_argument("--feeds", default=None)
    ap.add_argument("--captures", default=None,
                    help="parquet with (url, capture_ts); omit = bootstrap")
    ap.add_argument("--output", required=True)
    ap.add_argument("--default-delay", type=int, default=1)
    ap.add_argument("--max-per-host", type=int, default=10000)
    ap.add_argument("--start-epoch", type=int, default=0)
    args = ap.parse_args()
    if not args.sitemaps and not args.feeds:
        ap.error("need --sitemaps and/or --feeds")

    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        frontier_fetchlist,
        politeness_schedule,
    )

    spark = get_spark("frontier")
    t0 = time.time()
    counts = {"sitemap_docs": 0, "feed_docs": 0}

    parts = []
    if args.sitemaps:
        counts["sitemap_docs"] = spark.read.parquet(args.sitemaps).count()
        parts.append(_parse_stage(spark, args.sitemaps, "sitemap"))
    if args.feeds:
        counts["feed_docs"] = spark.read.parquet(args.feeds).count()
        parts.append(_parse_stage(spark, args.feeds, "feed"))
    entries = parts[0]
    for p in parts[1:]:
        entries = entries.unionByName(p)

    if args.captures:
        captures = spark.read.parquet(args.captures)
    else:
        captures = spark.createDataFrame([], "url string, capture_ts long")
    fetch = frontier_fetchlist(entries, captures)
    sched = politeness_schedule(
        fetch, default_delay=args.default_delay,
        start_epoch=args.start_epoch, max_per_host=args.max_per_host,
    )
    sched.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    by_reason = {
        r["reason"]: r["n"]
        for r in fetch.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    summary = {
        **counts,
        "urls": fetch.count(),
        "new": int(by_reason.get("new", 0)),
        "stale": int(by_reason.get("stale", 0)),
        "scheduled": out.count(),
        "hosts": out.select("host").distinct().count(),
        "sec": round(time.time() - t0, 1),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
