"""Training-corpus curation job: stats -> filter -> dedup -> curated corpus.

The end-to-end LLM-data-pipeline surface composed from the engine's
operators, in the order a production curation run applies them (cheap
columnar filters first so the expensive near-dup stage sees the smallest
candidate set):

  1. text analysis (operators/textstats.document_stats): language ID,
     quality score, token counts — pure native columns;
  2. quality gate: keep lang in --langs with quality >= --min-quality and
     token_count in [--min-tokens, --max-tokens];
  3. Gopher repetition gate (operators/quality): duplicate-line and
     top-n-gram char-mass caps + symbol ratio — repetition-dominated docs
     never reach the near-dup stage (Rae et al. 2021 ordering);
  4. optional C4 line cleanup (--c4-clean): drop non-sentence lines and
     brace/lorem-ipsum documents BEFORE dedup so boilerplate lines can't
     glue unrelated docs into near-dup pairs (Raffel et al. 2020 order);
  5. optional PII scrub (--redact-pii): email/IPv4 redaction on the
     surviving text (the curated corpus never carries raw PII);
  6. exact dedup (hash groupBy) keeps one doc per identical text;
  7. near-dup MinHash-LSH pairs -> connected components -> canonical only.

Optional r5 stages (flags, default off; applied in published order):
--fix-mojibake repairs CP1252 double-encoding BEFORE any signal;
--strip-templates removes per-source boilerplate lines (RefinedWeb
host-scoped nav/footer detection) before any signal is computed;
--word-gates applies the Gopher word-count/length/stopword rows;
--badwords drops blocklist-word documents (C4 page rule);
--span-dedup K removes duplicated >=K-token spans AFTER near-dup
(RefinedWeb ordering); --decontaminate EVALS drops docs sharing a
13-gram with the eval set (GPT-3 Appendix C) right after near-dup,
before any text rewriting; --semdedup EMB drops semantic near-dups
(within-cluster cosine, Abbas et al. 2023) right after MinHash dedup;
--dsir-top-k N keeps the N highest DSIR importance weights (Xie et al.
2023) immediately before the mix; --sample-budget N finishes with the
deterministic alpha=0.5 temperature mix down to N tokens.

All stages are shuffle-lean: stats are map-only; the quality gate pushes
into the scan; exact dedup is one hash aggregation; LSH is banded
bucket-joins (never all-pairs). Output warehouse: stats/, curated/, and a
funnel line per stage.

Usage:
  python jobs/curate.py --input /root/testdata/sf0.01/documents.parquet \
      --output /tmp/idp_curated [--min-quality 0.3] [--langs en]
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", default="en", help="comma-separated language allowlist")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument("--near-dup-threshold", type=float, default=0.8)
    ap.add_argument("--c4-clean", action="store_true",
                    help="C4 line filter + doc-drop rules before dedup")
    ap.add_argument("--redact-pii", action="store_true",
                    help="redact emails/IPv4s in the curated text")
    ap.add_argument("--fix-mojibake", action="store_true",
                    help="repair CP1252 mojibake before any analysis")
    ap.add_argument("--badwords", action="store_true",
                    help="drop documents containing blocklist words (C4)")
    ap.add_argument("--word-gates", action="store_true",
                    help="Gopher word-level gates (count/length/stopwords)")
    ap.add_argument("--min-words", type=int, default=50,
                    help="word-gate lower document length (Gopher: 50)")
    ap.add_argument("--min-stopword-hits", type=int, default=2,
                    help="distinct required stopwords (Gopher: 2)")
    ap.add_argument("--decontaminate", default=None, metavar="EVAL_PARQUET",
                    help="drop docs sharing an n-gram with this eval set "
                         "(GPT-3 Appendix C rule; parquet with eval_id, text)")
    ap.add_argument("--contam-ngram", type=int, default=13,
                    help="n-gram size for --decontaminate")
    ap.add_argument("--sample-budget", type=int, default=0, metavar="TOKENS",
                    help="final alpha=0.5 temperature sample down to this "
                         "token budget, stratified by detected language")
    ap.add_argument("--min-compression-ppm", type=int, default=0,
                    metavar="PPM",
                    help="drop docs whose zlib ratio (integer ppm) falls "
                         "below this — the CCNet/Gopher-family "
                         "repetitive-junk gate (0 = off; ~200000 is a "
                         "conservative floor for prose)")
    ap.add_argument("--quality-classifier", action="store_true",
                    help="model-based quality gate (CCNet fastText "
                         "stage): train on weak stat labels, keep docs "
                         "predicted 'hq'; runs after the stat gates")
    ap.add_argument("--min-tier", type=int, default=0, metavar="T",
                    help="drop documents below this quality tier "
                         "(0=junk..4=head, integer-exact boundaries; "
                         "0 = off); runs with the cheap stat gates")
    ap.add_argument("--ppl-keep", default=None, metavar="TIERS",
                    help="comma list of per-language perplexity "
                         "terciles to keep (CCNet: 'head,middle'); "
                         "data-derived cutoffs, corpus never sorted "
                         "(off by default)")
    ap.add_argument("--source-cap", type=int, default=0, metavar="K",
                    help="keep at most K best-scored docs per source "
                         "host (megasite diversity cap; requires a "
                         "'source' column in the input — falls back to "
                         "a global top-K without one; 0 = off); runs "
                         "on the deduped corpus")
    ap.add_argument("--semdedup", default=None, metavar="EMB_PARQUET",
                    help="embeddings parquet (vec_id=doc_id, embedding); "
                         "drop semantic near-dups (within-k-means-cluster "
                         "cosine >= --semdedup-threshold, Abbas et al. "
                         "2023) after MinHash near-dup")
    ap.add_argument("--semdedup-threshold", type=float, default=0.35)
    ap.add_argument("--semdedup-clusters", type=int, default=16)
    ap.add_argument("--dsir-top-k", type=int, default=0, metavar="N",
                    help="keep only the N top DSIR-importance docs "
                         "(bigram-LM log-ratio vs --dsir-target-langs, "
                         "Xie et al. 2023); runs right before the "
                         "temperature sample")
    ap.add_argument("--dsir-target-langs", default="en")
    ap.add_argument("--strip-templates", action="store_true",
                    help="RefinedWeb host-scoped boilerplate strip: "
                         "detect per-source template lines (df >= 3, "
                         "host share >= 50%%) and remove every "
                         "occurrence BEFORE any signal is computed")
    ap.add_argument("--span-dedup", type=int, default=0, metavar="K",
                    help="remove duplicated >=K-token spans from the "
                         "curated corpus (0 = off)")
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
    if args.fix_mojibake:
        # encoding repair precedes every signal (CCNet ordering): a
        # mojibake'd doc must not fail lang/quality gates for its bytes
        from intelligent_document_processing_on_aws_spark.operators.webfilters import (
            fix_mojibake,
        )

        docs = docs.withColumn("text", fix_mojibake(F.col("text")))
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
    # of re-deriving lineage (the write/re-read pattern jobs/dedup.py uses)
    ts.document_stats(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "stats")
    )
    stats = spark.read.parquet(os.path.join(args.output, "stats"))

    langs = [s.strip() for s in args.langs.split(",") if s.strip()]
    gate_ids = stats.where(
        F.col("lang_guess").isin(langs)
        & (F.col("quality") >= args.min_quality)
        & F.col("n_tokens").between(args.min_tokens, args.max_tokens)
    ).select("doc_id")
    gated = docs.join(gate_ids, "doc_id")
    n_quality = gate_ids.count()

    # Gopher repetition gate: one map-only Arrow pass over the survivors
    gated = gated.join(quality_gate_ids(gated), "doc_id")
    n_repetition = gated.count()

    n_compression = None
    if args.min_compression_ppm:
        from intelligent_document_processing_on_aws_spark.operators.quality import (
            compression_ratio,
        )

        keep = compression_ratio(gated).where(
            F.col("compression_ppm") >= args.min_compression_ppm
        ).select("doc_id")
        gated = gated.join(keep, "doc_id")
        n_compression = gated.count()

    n_quality_clf = None
    if args.quality_classifier:
        # model-based quality gate: weak-label-trained fastText-style
        # classifier, keep predicted-hq docs (zero-Python scoring)
        from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
            ft_quality_gate_ids,
        )

        # gate spelling, not .where() on the live plan — see
        # ft_quality_gate_ids for why filtering the un-materialized
        # classifier output is O(L^2) interpreted work per row
        hq = ft_quality_gate_ids(gated, checkpoint_dir=args.checkpoint_dir)
        gated = gated.join(hq, "doc_id")
        n_quality_clf = gated.count()

    n_tier = None
    if args.min_tier:
        # tier gate with the cheap stat gates: one linear scan per row
        # (the tier CASE inlines the integer score into the filter —
        # constant-factor re-evaluation, nothing quadratic)
        from intelligent_document_processing_on_aws_spark.operators.tiers import (
            quality_tiers,
        )

        tq = quality_tiers(gated).where(
            F.col("tier") >= args.min_tier
        ).select("doc_id")
        gated = gated.join(tq, "doc_id")
        n_tier = gated.count()

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

    n_word_gates = None
    if args.word_gates:
        from intelligent_document_processing_on_aws_spark.operators.quality import (
            doc_word_stats,
        )

        wg = doc_word_stats(
            gated,
            bounds={"min_words": args.min_words,
                    "min_stopword_hits": args.min_stopword_hits},
        ).where(F.col("word_gates_pass")).select("doc_id")
        gated = gated.join(wg, "doc_id")
        n_word_gates = gated.count()

    n_badwords = None
    if args.badwords:
        from intelligent_document_processing_on_aws_spark.operators.webfilters import (
            badword_filter,
        )

        gated = badword_filter(gated)
        n_badwords = gated.count()

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

    pairs = minhash_lsh_pairs(survivors, threshold=args.near_dup_threshold,
                              checkpoint_dir=args.checkpoint_dir)
    groups = duplicate_groups(survivors, pairs,
                              checkpoint_dir=args.checkpoint_dir)
    kept = survivors.join(
        groups.where(~F.col("is_duplicate")).select("doc_id"), "doc_id"
    )
    n_semdedup = None
    if args.semdedup:
        # SemDeDup on the MinHash survivors (its published position:
        # lexical dedup first, then the semantic pass over embeddings)
        from intelligent_document_processing_on_aws_spark.operators.semdedup import (
            semdedup,
        )

        emb = spark.read.parquet(args.semdedup).join(
            kept.select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        drops = semdedup(
            emb,
            threshold=args.semdedup_threshold,
            n_centroids=args.semdedup_clusters,
        ).select(F.col("vec_id").alias("doc_id"))
        kept = kept.join(drops, "doc_id", "left_anti")
        n_semdedup = kept.count()
    n_decontaminated = None
    if args.decontaminate:
        # decontamination runs on the deduped candidate set, BEFORE any
        # text rewriting (PII redaction / span removal) so matches are
        # judged against the original text the eval grams came from
        from intelligent_document_processing_on_aws_spark.operators.contamination import (
            decontaminate,
        )

        evals = spark.read.parquet(args.decontaminate)
        kept = decontaminate(kept, evals, n=args.contam_ngram)
        n_decontaminated = kept.count()
    if args.redact_pii:
        from intelligent_document_processing_on_aws_spark.operators.webfilters import (
            redact_pii,
        )

        kept = kept.withColumn("text", redact_pii(F.col("text")))
    n_span_removed = None
    if args.span_dedup:
        # RefinedWeb ordering: span removal runs on the deduped corpus
        from intelligent_document_processing_on_aws_spark.operators.dedup import (
            substring_span_dedup,
        )

        spans = substring_span_dedup(kept, k=args.span_dedup)
        n_span_removed = (
            spans.agg(F.sum("n_removed")).collect()[0][0] or 0
        )
        kept = kept.drop("text").join(
            spans.select("doc_id",
                         F.col("text_deduped").alias("text")),
            "doc_id",
        )
    n_source_cap = None
    if args.source_cap:
        # per-source diversity cap on the deduped corpus (megasites
        # must not dominate the mix); WindowGroupLimit prunes each
        # partition to local top-K before the one shuffle
        from intelligent_document_processing_on_aws_spark.operators.tiers import (
            source_cap,
        )

        base = kept
        if "source" in raw.columns:
            base = kept.join(raw.select("doc_id", "source"), "doc_id")
        cap_ids = source_cap(base, k=args.source_cap).select("doc_id")
        kept = kept.join(cap_ids, "doc_id")
        n_source_cap = kept.count()

    n_dsir = None
    if args.dsir_top_k:
        # DSIR selection (data selection proper) immediately before the
        # budgeted mix: score the cleaned candidates against the target
        # slice, keep the top-N importance weights. hash_buckets bounds
        # the feature table to a broadcastable size at any corpus scale.
        from intelligent_document_processing_on_aws_spark.operators.dsir import (
            dsir_weights,
        )

        tlangs = [s.strip() for s in args.dsir_target_langs.split(",")
                  if s.strip()]
        scored_in = kept.join(
            stats.select("doc_id", "lang_guess"), "doc_id"
        )
        sel = dsir_weights(
            scored_in,
            target_cond=F.col("lang_guess").isin(tlangs),
            top_k=args.dsir_top_k,
            hash_buckets=1 << 18,
            checkpoint_dir=args.checkpoint_dir,
        ).where("selected").select("doc_id")
        kept = kept.join(sel, "doc_id")
        n_dsir = kept.count()
    n_sampled = None
    if args.sample_budget:
        # final stage: temperature (alpha=0.5) mix down to the token
        # budget, stratified by the detected language; weights use the
        # stats-stage token counts (no recompute). Deterministic hash
        # sampling -> a re-run picks the same training set.
        from intelligent_document_processing_on_aws_spark.operators.sampling import (
            temperature_sample,
        )

        kept = temperature_sample(
            kept.join(
                stats.select("doc_id", F.col("lang_guess").alias("lang"),
                             "n_tokens"),
                "doc_id",
            ),
            "lang", args.sample_budget,
            token_count_col="n_tokens", seed="curate-mix-42",
        ).drop("lang", "n_tokens")
        n_sampled = kept.count()
    kept.write.mode("overwrite").parquet(os.path.join(args.output, "curated"))
    n_kept = spark.read.parquet(os.path.join(args.output, "curated")).count()

    print(json.dumps({
        "docs": n_docs,
        "template_lines_stripped": n_template_lines,
        "after_quality": n_quality,
        "after_repetition": n_repetition,
        "after_compression": n_compression,
        "after_quality_classifier": n_quality_clf,
        "after_tier_gate": n_tier,
        "after_ppl_tiers": n_ppl,
        "after_word_gates": n_word_gates,
        "after_badwords": n_badwords,
        "after_c4": n_c4,
        "span_tokens_removed": n_span_removed,
        "after_semdedup": n_semdedup,
        "after_decontamination": n_decontaminated,
        "after_source_cap": n_source_cap,
        "after_dsir": n_dsir,
        "after_sampling": n_sampled,
        "after_exact": n_exact,
        "lsh_dropped_buckets": n_dropped_buckets,
        "kept": n_kept,
        "sec": round(time.time() - t0, 2),
        "docs_per_sec": round(n_docs / max(time.time() - t0, 1e-9), 1),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
