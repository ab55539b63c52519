"""Tokenize-and-pack job: curated corpus -> BPE subwords -> training
sequences + shard manifest.

The last mile of the training-data pipeline: after curation
(jobs/curate.py) the corpus is tokenized with corpus-trained BPE
merges (operators/tokenizer.py — one word-frequency pass to train,
distinct-word Arrow encode) and every document is assigned its packed
training-sequence slot (operators/packing.py — GPT-style
concatenate-then-chop within deterministic hash buckets).  The output
warehouse holds:

  merges/     the learned merge table (rank, left, right) — the
              tokenizer artifact a trainer ships with the data;
  tokens/     (doc_id, n_words, n_bpe, bpe_text);
  packed/     (doc_id, bucket, seq_id, seq_offset, n_tokens);
  manifest/   per-bucket shard manifest (n_docs, t_tokens, n_seqs).

Every stage is deterministic: a re-run (or a resumed run) reproduces
identical merges, identical token streams, and identical packing.

Usage:
  python jobs/tokenize_pack.py --input /tmp/idp_curated/curated \
      --output /tmp/idp_tokenized [--merges 200] [--seq-len 2048]
Prints one JSON line {"docs", "words", "bpe_tokens", "sequences",
"merges", "sec", "tokens_per_sec"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.operators.packing import (  # noqa: E402
    pack_sequences,
    packing_summary,
)
from intelligent_document_processing_on_aws_spark.operators.tokenizer import (  # noqa: E402
    bpe_encode,
    bpe_train,
)
from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="curated documents parquet (doc_id, text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--merges", type=int, default=200)
    ap.add_argument("--max-words", type=int, default=50_000)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--buckets", type=int, default=1024)
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark("idp-tokenize")
    docs = spark.read.parquet(args.input).select("doc_id", "text")

    merges = bpe_train(docs, n_merges=args.merges,
                       max_words=args.max_words)
    spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.output, "merges")
    )

    # encode once, persist, and feed packing from the materialized
    # token counts (the write/re-read pattern of jobs/curate.py)
    bpe_encode(docs, merges).write.mode("overwrite").parquet(
        os.path.join(args.output, "tokens")
    )
    tokens = spark.read.parquet(os.path.join(args.output, "tokens"))

    packed = pack_sequences(
        tokens.select("doc_id", F.col("n_bpe").alias("n_tokens")),
        seq_len=args.seq_len, n_buckets=args.buckets,
    )
    packed.write.mode("overwrite").parquet(
        os.path.join(args.output, "packed")
    )
    packed = spark.read.parquet(os.path.join(args.output, "packed"))
    manifest = packing_summary(packed, args.seq_len)
    manifest.write.mode("overwrite").parquet(
        os.path.join(args.output, "manifest")
    )

    agg = tokens.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_bpe").alias("bpe"),
    ).collect()[0]
    n_seqs = spark.read.parquet(
        os.path.join(args.output, "manifest")
    ).agg(F.sum("n_seqs")).collect()[0][0] or 0
    sec = round(time.time() - t0, 2)
    print(json.dumps({
        "docs": agg["docs"],
        "words": int(agg["words"] or 0),
        "bpe_tokens": int(agg["bpe"] or 0),
        "sequences": int(n_seqs),
        "merges": len(merges),
        "seq_len": args.seq_len,
        "sec": sec,
        "tokens_per_sec": round(int(agg["bpe"] or 0) / max(sec, 1e-9), 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
