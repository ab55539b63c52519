"""Corpus deduplication job: candidates -> groups -> canonical corpus.

The training-data pipeline surface: exact-hash groups plus MinHash-LSH
near-dup candidate pairs feed connected-components grouping
(operators/dedup.duplicate_groups); the output warehouse holds the group
table and the deduplicated corpus (canonical docs only).

Usage:
  python jobs/dedup.py --input /root/testdata/sf0.01/documents.parquet \
      --output /tmp/idp_dedup [--threshold 0.8]
Prints one JSON line {"docs", "groups", "duplicates", "kept", "sec"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.operators.dedup import (  # noqa: E402
    canonical_selection,
    duplicate_groups,
    minhash_lsh_pairs,
)
from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--checkpoint-dir", default=None, metavar="DIR_OR_URI",
                    help="reliable checkpoint dir (HDFS/S3/local) for the "
                         "iterative stages; default localCheckpoint")
    ap.add_argument("--keep-best", action="store_true",
                    help="survive the LONGEST member of each dup group "
                         "(quality-weighted canonical, RefinedWeb-style) "
                         "instead of the lowest doc_id")
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark("idp-dedup")
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, threshold=args.threshold,
                              checkpoint_dir=args.checkpoint_dir)
    groups = duplicate_groups(docs, pairs,
                              checkpoint_dir=args.checkpoint_dir)
    if args.keep_best:
        scored = docs.select(
            "doc_id", F.length("text").cast("long").alias("quality"))
        groups = canonical_selection(groups, scored, "quality").select(
            "doc_id", "group_id", "group_size", "canonical_id",
            (~F.col("keep")).alias("is_duplicate"))
    groups.write.mode("overwrite").parquet(os.path.join(args.output, "groups"))

    groups_r = spark.read.parquet(os.path.join(args.output, "groups"))
    kept = docs.join(
        groups_r.where(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    )
    kept.write.mode("overwrite").parquet(os.path.join(args.output, "deduped"))

    n_docs = docs.count()
    n_groups = groups_r.select("group_id").distinct().count()
    n_dupes = groups_r.where(F.col("is_duplicate")).count()
    print(json.dumps({
        "docs": n_docs,
        "groups": n_groups,
        "duplicates": n_dupes,
        "kept": spark.read.parquet(os.path.join(args.output, "deduped")).count(),
        "sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
