"""Main-content extraction job.

Usage (local or cluster):
  spark-submit --py-files idp_spark.zip jobs/extract.py \
      --input fixtures_data/t2_pages.parquet \
      --output /tmp/extracted \
      [--salt-partitions 64]

Reads a pages table (url, warc_ts, html, text, lang), salts it by url
hash into P partitions, runs the vectorized extraction stage in one
Python pass and commits the result as an atomic snapshot
(sources/snapshots.py) under {output}/table. P is --salt-partitions, or
else spark.sql.shuffle.partitions: a spark-submit --conf value, or the
local task slots.

The per-file lineage of that commit, read from its parquet footer stats
and written by the driver with pyarrow, lands under {output}/lineage.
Re-running the same command resumes from the last committed snapshot,
processing only not-yet-committed urls — the kill mid-run / re-run path.
A first run into an empty output counts nothing and runs three Spark
jobs: the input's schema inference, the salt's shuffle map and the
write.

Prints a one-line JSON summary: "rows", the committed snapshot's record
count from its manifest; "processed" and "skipped", this run's record
count and the input urls already committed; docs/sec over this run's
work; and jvm_jit_s, the seconds the driver JVM's JIT compilers spent in
the job. --snapshots is accepted and changes nothing: the snapshot
commit is the only output mode.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intelligent_document_processing_on_aws_spark.plans import lineage  # noqa: E402
from intelligent_document_processing_on_aws_spark.session import (  # noqa: E402
    cds_archive,
    get_spark,
    jit_seconds,
)
from intelligent_document_processing_on_aws_spark.sources.snapshots import (  # noqa: E402
    total_records,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (or --manifest)")
    ap.add_argument("--manifest",
                    help="CSV/JSON manifest of input parquet paths "
                         "(CLI ManifestParser semantics)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--snapshots", action="store_true",
                    help="no effect: snapshot-committed output with lineage "
                         "and resume is the only mode")
    args = ap.parse_args()

    t_start = time.time()
    spark = get_spark("idp-extract", master=args.master)
    t0, jit0 = time.time(), jit_seconds(spark)
    session = {"session_start_s": round(t0 - t_start, 2), "cds_archive": cds_archive(spark)}
    if args.manifest:
        from intelligent_document_processing_on_aws_spark.plans.manifest import (
            parse_manifest,
        )

        specs = parse_manifest(args.manifest)
        remote = [d["path"] for d in specs if d["type"] != "local"]
        if remote:
            ap.error(f"manifest names non-local inputs (no object store here): {remote[:3]}")
        pages = spark.read.parquet(*[d["path"] for d in specs])
    else:
        if not args.input:
            ap.error("--input or --manifest required")
        pages = spark.read.parquet(args.input)
    # called through the module, so a wrapper set on it at run time (a
    # tracer's span) is the one that runs
    stats = lineage.run_with_resume_snapshots(
        spark, pages,
        os.path.join(args.output, "table"),
        os.path.join(args.output, "lineage"),
        salt_partitions=args.salt_partitions,
    )
    n = total_records(os.path.join(args.output, "table"))
    dt = time.time() - t0
    # throughput reflects THIS run's work; rows is the committed total
    print(json.dumps({"rows": n, "sec": round(dt, 2),
                      "docs_per_sec": round(stats["processed"] / dt, 1),
                      "jvm_jit_s": round(jit_seconds(spark) - jit0, 2),
                      **session, **stats}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
