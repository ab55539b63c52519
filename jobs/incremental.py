"""Incremental ingestion job: dedup a new document batch against the
accumulated corpus, then append the survivors.

The rolling-corpus production loop (each crawl snapshot lands as a
batch; only never-seen documents join the corpus):

  1. Bloom filter built over the corpus text hashes — map-only pass +
     log-depth treeReduce (operators/incremental.py);
  2. new batch pruned map-side against the broadcast bitmap;
  3. candidates confirmed exactly via broadcast semi/anti joins —
     neither the corpus nor the batch ever shuffles;
  4. survivors written to --output (append-ready partition layout).

Usage:
  python jobs/incremental.py --batch new_docs.parquet \
      --corpus corpus.parquet --output /tmp/idp_incremental \
      [--fpp 0.01]
Prints one JSON line {"batch", "kept", "dropped", "sec", ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intelligent_document_processing_on_aws_spark.operators.incremental import (  # noqa: E402
    incremental_exact_dedup,
)
from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", required=True,
                    help="new documents parquet (doc_id, text, ...)")
    ap.add_argument("--corpus", required=True,
                    help="accumulated corpus parquet (must have text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--fpp", type=float, default=0.01,
                    help="Bloom false-positive rate (size/recheck tradeoff)")
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark("idp-incremental")
    batch = spark.read.parquet(args.batch)
    corpus = spark.read.parquet(args.corpus)
    n_batch = batch.count()

    kept = incremental_exact_dedup(batch, corpus, fpp=args.fpp,
                                   expected_items=None)
    kept.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()

    print(json.dumps({
        "batch": n_batch,
        "kept": n_kept,
        "dropped": n_batch - n_kept,
        "fpp": args.fpp,
        "sec": round(time.time() - t0, 2),
        "docs_per_sec": round(n_batch / max(time.time() - t0, 1e-9), 1),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
