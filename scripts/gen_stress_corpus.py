"""Deterministic web-scale-stress corpus generator: every funnel stage is
exercised at 1M documents, not only on small fixtures.

Synthesises an N-document corpus (default 1M) with the population mix a
Common-Crawl curation funnel sees, fully closed-form from doc_id — no RNG
state, so any partitioning and any rerun produce byte-identical text:

- ~76% ordinary English-ish prose (word-bank indices are an affine
  function of (doc_id, position); stopwords mixed in so lang-ID and the
  quality score pass);
- doc_id % 10 == 7  -> EXACT duplicate of doc_id - 5's text;
- doc_id % 10 == 3  -> NEAR duplicate of doc_id - 2 (one sentence
  appended, Jaccard ~0.9: the MinHash-LSH target population);
- doc_id % 37 == 11 -> repetition-dominated spam ("buy now ..." line
  repeated) for the Gopher gate;
- doc_id % 41 == 13 -> symbol soup (low quality score gate);
- doc_id % 43 == 17 -> non-English (German marker words);
- doc_id < --template-cluster (default 800) with doc_id % 10 not in
  {3, 7} -> one shared boilerplate template plus a unique trailing token:
  near-identical but not exact-equal docs whose band keys collide, so the
  LSH DEFAULT_MAX_BUCKET=500 cap MUST trip and the curate job's
  lsh_dropped_buckets audit line MUST fire.

Generation is Spark-distributed (spark.range -> one vectorized numpy
mapInPandas), so the generator itself exercises the engine's scale path.

Usage:
  python scripts/gen_stress_corpus.py --n 1000000 \
      --output /tmp/stress_docs.parquet
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = (
    "the and of to is a in it that for was on are with as his they at be "
    "this have from or had by word but not what all were when your can "
    "said there use each which she how their will other about out many "
    "then them these some would make like him into time has look two more "
    "write go see number way could people my than first water been call "
    "who oil its now find long down day did get come made may part over "
    "new sound take only little work know place year live me back give "
    "most very after thing our just name good sentence man think say great "
    "where help through much before line right too mean old any same tell "
    "boy follow came want show also around form three small set put end "
    "does another well large must big even such because turn here why ask "
    "went men read need land different home us move try kind hand picture "
    "again change off play spell air away animal house point page letter "
    "mother answer found study still learn should america world high every "
    "near add food between own below country plant last school father keep "
    "tree never start city earth eye light thought head under story saw "
    "left few while along might close something seem next hard open "
    "example begin life always those both paper together got group often "
    "run important until children side feet car mile night walk white sea "
    "began grow took river four carry state once book hear stop without "
    "second later miss idea enough eat face watch far really almost let "
    "above girl sometimes mountain cut young talk soon list song being "
    "leave family body music color stand sun question fish area mark dog "
    "horse birds problem complete room knew since ever piece told usually "
    "friends easy heard order red door sure become top ship across today "
    "during short better best however low hours black products happened "
    "whole measure remember early waves reached"
).split()

# multi-line with terminal punctuation and >=5 words per line, so the
# template cluster SURVIVES the C4 stage and reaches the LSH bucket audit
TEMPLATE = (
    "welcome to the site navigation home products about contact us page.\n"
    "all rights reserved copyright notice privacy policy terms of service.\n"
    "subscribe to the newsletter for updates and offers every single week.\n"
    "follow us on social media channels for the latest news and events.\n"
    "the content on this page is provided for information purposes only.\n"
    "please review the terms before you continue to use this website.\n"
    "customer support is available around the clock for your questions.\n"
    "sign in to your account to manage preferences and saved items."
)

GERMAN = ("der und die das ist ein eine nicht mit sich auf des dem zu er "
          "sie es an werden aus auch nach wird bei einer um am sind noch "
          "wie einem nur oder hat man").split()


def doc_text(i: int) -> str:
    """Closed-form text for doc i (pure; the mapInPandas stage evaluates
    the same formulas vectorized)."""
    m10 = i % 10
    if m10 == 7 and i >= 5:                      # exact dup
        return doc_text(i - 5)
    if m10 == 3 and i >= 2:                      # near dup: one extra LINE
        # (own line so C4 keeps it intact and the cleaned pair still sits
        # at Jaccard ~0.9 — glued onto the base's partial last line it
        # would rescue that line in one doc only and sink J below 0.8)
        return (doc_text(i - 2)
                + "\nadditional closing sentence number " + str(i)
                + " appears here.")
    if i % 37 == 11:                             # repetition spam that
        # PASSES the stats gate (stopword-rich, sane quality score) but
        # must die at the Gopher duplicate-line gate
        return ("the best price is now here for you today.\n" * 24).strip()
    if i % 41 == 13:                             # symbol soup (low quality)
        return ("$$ ## @@ %% ^^ && ** (( )) __ ++ == " * 12).strip()
    if i % 43 == 17:                             # non-English
        n = 60 + (i * 13) % 80
        return " ".join(GERMAN[(i * 7 + p * 11) % len(GERMAN)]
                        for p in range(n))
    n = 60 + (i * 13) % 140                      # ordinary prose
    # per-(doc, position) hash mixing: the word index draws on DIFFERENT
    # h bits at different positions ((h >> (p % 31)) term), so two docs
    # share a whole 60-word line only if their 64-bit hashes essentially
    # coincide — an affine-only formula has just len(VOCAB)^2 line
    # classes and collapses C4-cleaned docs into exact-dup clusters at
    # 1M scale (observed: 69% false exact-dup rate before this fix).
    # Every 3rd word comes from the stopword-heavy head of VOCAB so the
    # language-ID marker density matches real English text (~40%
    # stopwords) instead of a uniform 379-word draw (which left ~17% of
    # docs with zero marker hits -> lang 'unknown' -> gate loss).
    h = (i * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    hx = h ^ (h >> 29)
    words = []
    for p in range(n):
        idx = (hx + p * 2654435761 + ((h >> (p % 31)) & 0xFFFF) * 31
               + (p * p) % 97)
        if p % 3 == 0:
            words.append(VOCAB[idx % 48])        # high-frequency head
        else:
            words.append(VOCAB[idx % len(VOCAB)])
    # sentence + line structure (C4/Gopher signals need both)
    out = []
    for p, w in enumerate(words):
        out.append(w)
        if p % 12 == 11:
            out[-1] = w + "."
        if p % 60 == 59:
            out[-1] = out[-1] + "\n"
    return " ".join(out).replace("\n ", "\n").strip()


def build(spark, n: int, template_cluster: int, out_path: str):
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf["id"]]
            texts = []
            for i in ids:
                if i < template_cluster and i % 10 not in (3, 7):
                    # own C4-surviving line: the cluster must stay
                    # near-identical-but-DISTINCT through exact dedup so
                    # the LSH bucket cap is what handles it
                    texts.append(TEMPLATE + "\nunique trailing token number "
                                 + str(i) + " appears in this line.")
                else:
                    texts.append(doc_text(i))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    df = spark.range(0, n, numPartitions=64).mapInPandas(gen, schema)
    df.write.mode("overwrite").parquet(out_path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--template-cluster", type=int, default=800)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from intelligent_document_processing_on_aws_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("stress-gen")
    build(spark, args.n, args.template_cluster, args.output)
    n = spark.read.parquet(args.output).count()
    print({"docs": n, "sec": round(time.time() - t0, 2),
           "path": args.output})
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
