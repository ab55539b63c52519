"""Training-corpus curation job: stats -> filter -> dedup -> curated corpus.

The end-to-end LLM-data-pipeline surface composed from the engine's
operators, in the order a production curation run applies them (cheap
columnar filters first so the expensive near-dup stage sees the smallest
candidate set):

  1. optional host-template strip (--strip-templates): per-source
     boilerplate lines (RefinedWeb host-scoped nav/footer detection)
     are removed BEFORE any signal is computed;
  2. text analysis (operators/textstats.document_stats): language ID,
     quality score, token counts — pure native columns;
  3. quality gate: keep lang in LANGS with quality >= --min-quality and
     token_count in [--min-tokens, MAX_TOKENS];
  4. Gopher repetition gate (operators/quality): duplicate-line and
     top-n-gram char-mass caps + symbol ratio — repetition-dominated docs
     never reach the near-dup stage (Rae et al. 2021 ordering);
  5. optional CCNet perplexity terciles (--ppl-keep head,middle): keep
     the listed per-language tiers;
  6. optional C4 line cleanup (--c4-clean): drop non-sentence lines and
     brace/lorem-ipsum documents BEFORE dedup so boilerplate lines can't
     glue unrelated docs into near-dup pairs (Raffel et al. 2020 order);
  7. exact dedup (hash groupBy) keeps one doc per identical text;
  8. near-dup MinHash-LSH pairs -> connected components -> canonical only;
  9. optional PII scrub (--redact-pii): email/IPv4 redaction on the
     surviving text (the curated corpus never carries raw PII).

All stages are shuffle-lean: stats are map-only; the quality gate pushes
into the scan; exact dedup is one hash aggregation; LSH is banded
bucket-joins (never all-pairs). Output warehouse: stats/, curated/, and a
funnel line per stage. The other corpus operators (decontamination,
semantic dedup, DSIR, temperature sampling, ...) compose the same way;
the `corpus_curated_sampled` query checks one such composition against
its DuckDB oracle.

Usage:
  python jobs/curate.py --input documents.parquet \
      --output /tmp/idp_curated [--min-quality 0.3] [--c4-clean]
Prints one JSON line {"docs", "after_quality", "after_repetition",
"after_exact", "kept", "sec", ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.operators import textstats as ts  # noqa: E402
from intelligent_document_processing_on_aws_spark.operators.quality import (  # noqa: E402
    quality_gate_ids,
)
from intelligent_document_processing_on_aws_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BUCKET,
    duplicate_groups,
    exact_dedup,
    lsh_dropped_buckets,
    minhash_band_df,
    minhash_lsh_pairs,
)
from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


# the quality gate's language allowlist and token ceiling, and the
# near-dup Jaccard threshold
LANGS = ("en",)
MAX_TOKENS = 100_000
NEAR_DUP_THRESHOLD = 0.8


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--c4-clean", action="store_true",
                    help="C4 line filter + doc-drop rules before dedup")
    ap.add_argument("--redact-pii", action="store_true",
                    help="redact emails/IPv4s in the curated text")
    ap.add_argument("--ppl-keep", default=None, metavar="TIERS",
                    help="comma list of per-language perplexity "
                         "terciles to keep (CCNet: 'head,middle'); "
                         "data-derived cutoffs, corpus never sorted "
                         "(off by default)")
    ap.add_argument("--strip-templates", action="store_true",
                    help="RefinedWeb host-scoped boilerplate strip: "
                         "detect per-source template lines (df >= 3, "
                         "host share >= 50%%) and remove every "
                         "occurrence BEFORE any signal is computed")
    ap.add_argument("--checkpoint-dir", default=None, metavar="DIR_OR_URI",
                    help="reliable checkpoint dir (HDFS/S3/local) for the "
                         "iterative near-dup stages; default keeps the "
                         "faster executor-local localCheckpoint (a lost "
                         "executor then kills the job — use a durable dir "
                         "for multi-hour runs)")
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark("idp-curate")
    raw = spark.read.parquet(args.input)
    docs = raw.select("doc_id", "text")
    n_template_lines = None
    if args.strip_templates:
        # boilerplate strip precedes every signal (RefinedWeb ordering):
        # a nav bar must not inflate repetition/quality/token gates.
        # Hosts come from the corpus `source` column when present.
        from intelligent_document_processing_on_aws_spark.operators.domains import (
            host_template_lines,
            strip_host_templates,
        )

        host = (F.col("source") if "source" in raw.columns
                else F.lit("__all__"))
        hosted = raw.select("doc_id", host.alias("host")).join(
            docs, "doc_id").select("doc_id", "host", "text")
        tpl = host_template_lines(hosted)
        tpl.write.mode("overwrite").parquet(
            os.path.join(args.output, "template_lines"))
        tpl = spark.read.parquet(
            os.path.join(args.output, "template_lines"))
        n_template_lines = tpl.count()
        docs = strip_host_templates(hosted, tpl).select(
            "doc_id", F.col("text_stripped").alias("text"))
    n_docs = docs.count()

    # stats computed once, written, and RE-READ as the gate's input — the
    # expensive lang/quality/token expressions never run a second time and
    # every downstream stage reuses the materialized funnel stages instead
    # of re-deriving lineage
    ts.document_stats(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "stats")
    )
    stats = spark.read.parquet(os.path.join(args.output, "stats"))

    gate_ids = stats.where(
        F.col("lang_guess").isin(*LANGS)
        & (F.col("quality") >= args.min_quality)
        & F.col("n_tokens").between(args.min_tokens, MAX_TOKENS)
    ).select("doc_id")
    gated = docs.join(gate_ids, "doc_id")
    n_quality = gate_ids.count()

    # Gopher repetition gate: one map-only Arrow pass over the survivors
    gated = gated.join(quality_gate_ids(gated), "doc_id")
    n_repetition = gated.count()

    n_ppl = None
    if args.ppl_keep:
        # CCNet per-language perplexity terciles: bigram LM on the
        # deterministic reference slice, data-derived tercile cutoffs
        # from a bounded hash sample, map-only assignment — keep the
        # requested tiers per language (CCNet keeps head+middle)
        from intelligent_document_processing_on_aws_spark.operators.lm_filter import (
            perplexity_tiers,
        )

        keep_tiers = [s.strip() for s in args.ppl_keep.split(",")
                      if s.strip()]
        with_lang = gated.join(
            stats.select("doc_id", "lang_guess"), "doc_id"
        )
        pt = perplexity_tiers(with_lang, lang_col="lang_guess").where(
            F.col("ppl_tier").isin(keep_tiers)
        ).select("doc_id")
        gated = gated.join(pt, "doc_id")
        n_ppl = gated.count()

    n_c4 = None
    if args.c4_clean:
        from intelligent_document_processing_on_aws_spark.operators.webfilters import (
            c4_clean,
        )

        cleaned = c4_clean(gated)
        gated = gated.drop("text").join(
            cleaned.where(~F.col("dropped_doc"))
                   .select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )
        n_c4 = gated.count()

    exact = exact_dedup(gated)  # (doc_id, content_hash, ..., is_duplicate)
    exact_keep = exact.where(~F.col("is_duplicate")).select("doc_id")

    survivors = gated.join(exact_keep, "doc_id")
    survivors.write.mode("overwrite").parquet(os.path.join(args.output, "survivors"))
    survivors = spark.read.parquet(os.path.join(args.output, "survivors"))
    n_exact = survivors.count()

    # surface (never silently truncate) buckets the LSH df-cap excludes
    n_dropped_buckets = lsh_dropped_buckets(
        minhash_band_df(survivors), ["band_key"], DEFAULT_MAX_BUCKET
    ).count()
    if n_dropped_buckets:
        print(f"[curate] LSH df-cap excluded {n_dropped_buckets} "
              f"degenerate band buckets (> {DEFAULT_MAX_BUCKET} docs each)",
              file=sys.stderr)

    pairs = minhash_lsh_pairs(survivors, threshold=NEAR_DUP_THRESHOLD,
                              checkpoint_dir=args.checkpoint_dir)
    groups = duplicate_groups(survivors, pairs,
                              checkpoint_dir=args.checkpoint_dir)
    kept = survivors.join(
        groups.where(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    )
    if args.redact_pii:
        from intelligent_document_processing_on_aws_spark.operators.webfilters import (
            redact_pii,
        )

        kept = kept.withColumn("text", redact_pii(F.col("text")))
    kept.write.mode("overwrite").parquet(os.path.join(args.output, "curated"))
    n_kept = spark.read.parquet(os.path.join(args.output, "curated")).count()

    print(json.dumps({
        "docs": n_docs,
        "template_lines_stripped": n_template_lines,
        "after_quality": n_quality,
        "after_repetition": n_repetition,
        "after_ppl_tiers": n_ppl,
        "after_c4": n_c4,
        "after_exact": n_exact,
        "lsh_dropped_buckets": n_dropped_buckets,
        "kept": n_kept,
        "sec": round(time.time() - t0, 2),
        "docs_per_sec": round(n_docs / max(time.time() - t0, 1e-9), 1),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
