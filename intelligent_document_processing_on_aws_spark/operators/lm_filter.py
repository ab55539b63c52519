"""CCNet-style n-gram language-model perplexity filter.

Implements the classic web-corpus quality stage of CCNet (Wenzek et al.,
LREC 2020, §3.3 — public paper; no reference-repo analog): train a small
n-gram LM on a trusted reference slice, score every document's
perplexity under it, and bucket the corpus into head / middle / tail.
Low-perplexity ("head") documents read like the reference corpus;
high-perplexity ("tail") documents are gibberish, boilerplate, or
wrong-language and are dropped or down-weighted before LLM training.

From-scratch design (KenLM is not in this environment, and a 5-gram
Kneser-Ney model is overkill for an oracle-verifiable spec):

* **Model**: word-bigram LM with Laplace (add-one) smoothing,
      p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V),
  where V = (#distinct training unigrams) + 1 (the OOV bucket). Any
  unseen word or pair falls out of the same formula via zero counts —
  no special cases, and the whole model is two count tables.
* **Training** is native Spark aggregation (explode -> count with
  map-side partial aggregation); the count tables are collected to the
  driver and broadcast. Like CCNet's per-language KenLM models, the LM
  is trained on a bounded reference slice (Wikipedia-sized, ~1e5-1e6
  word vocabulary), so the broadcast table is megabytes even when the
  corpus being SCORED is 100 TB.
* **Scoring** is one Arrow mapInPandas pass with the broadcast tables:
  map-only, zero shuffles — it scales exactly like the scan, the same
  shape as operators/quality.py.
* **Exact cross-engine determinism**: every per-bigram log-probability
  is quantized ONCE to integer micro-nats,
      lp_micro = floor(ln((c12+1)/(c1+V)) * 1e6 + 0.5),
  and all downstream arithmetic (per-document sums, averages) is exact
  int64 — order-independent, so the Spark result is bit-identical to
  the DuckDB oracle that re-derives the same counts in SQL. Both
  engines call libm ln() on an identical IEEE-754 double (a ratio of
  the same two integers), so the quantized table agrees bit-for-bit.
  This is the same exact-integer-sum pattern that made the metering
  rollups scale-stable (operators/metering.py).

Bucket cutoffs are fixed constants on avg_nll_micro (average negative
log-likelihood per bigram, in micro-nats), the moral equivalent of
CCNet's published per-language perplexity cutoffs derived offline —
fixed thresholds keep the operator map-only (a corpus-wide ntile(3)
would need a total-order sort, a driver-bottleneck shape at 100 TB).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# avg-NLL-per-bigram cutoffs in micro-nats (ln-space * 1e6).
# Offline-derived on the seeded corpus (the CCNet §3.3 move: cutoffs
# computed once on a reference distribution, then applied as constants)
# so all three buckets have nonzero support at every committed scale
# (sf0.001/0.01/0.1 tertile bands 3.42-3.56M); exp(3.42) ~ 30.6 ppl,
# exp(3.50) ~ 33.1 ppl.
HEAD_MAX_AVG_NLL_MICRO = 3_420_000
MIDDLE_MAX_AVG_NLL_MICRO = 3_500_000

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bigrams", T.LongType()),
        T.StructField("avg_nll_micro", T.LongType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("ppl_bucket", T.StringType()),
    ]
)


@dataclass(frozen=True)
class BigramLM:
    """Laplace-smoothed word-bigram model: two count dicts + vocab size."""

    unigram: dict[str, int]
    bigram: dict[tuple[str, str], int]
    v: int  # distinct training unigrams + 1 (OOV bucket)

    def logp_micro(self, w1: str, w2: str) -> int:
        c12 = self.bigram.get((w1, w2), 0)
        c1 = self.unigram.get(w1, 0)
        return math.floor(math.log((c12 + 1) / (c1 + self.v)) * 1e6 + 0.5)


def _tokens_col(text_col: str):
    """Whitespace tokens, empties dropped — the frozen corpus token spec."""
    return F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def train_bigram_lm(
    train_docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> BigramLM:
    """Count tables via native explode + hash aggregation (partial
    map-side combine), collected to the driver at VOCABULARY scale, not
    corpus scale; the reference slice is the small, trusted corpus.

    Driver-memory guard rails (both default to no-ops so the committed
    oracles are unchanged): ``min_count`` drops unigram/bigram entries
    below the threshold INSIDE the aggregation, before anything is
    collected; ``max_vocab`` keeps only the top-``max_vocab`` unigrams
    by (count DESC, word ASC) — a distributed TakeOrdered, never a full
    sort — AND restricts the bigram table to pairs whose BOTH words
    survive (broadcast semi-joins against the kept vocabulary), so a
    careless caller pointing this at a raw web corpus collects bounded
    tables instead of OOMing the driver (the bpe_train ``max_words``
    discipline). The both-ends restriction also keeps every
    log-probability negative: a retained bigram of a dropped word would
    score log((c12+1)/(0+V)) > 0 whenever c12+1 > V, i.e. ppl < 1 for
    garbage. V counts the kept vocabulary.
    Both count tables come back in ONE Spark job (a union of the two
    aggregations) instead of two sequential collects."""
    toks = train_docs.select(_tokens_col(text_col).alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        uni = uni.where(F.col("c") >= min_count)
    if max_vocab is not None:
        uni = uni.orderBy(F.desc("c"), F.asc("w")).limit(int(max_vocab))
    n = F.greatest(F.size(F.col("toks")) - 1, F.lit(0))  # 0 for <2 tokens
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n).alias("w1"),
                F.slice("toks", 2, n).alias("w2"),
            )
        ).alias("p")
    ).where(F.col("p.w1").isNotNull() & F.col("p.w2").isNotNull())
    big = pairs.groupBy("p.w1", "p.w2").agg(F.count("*").alias("c"))
    if min_count > 1:
        big = big.where(F.col("c") >= min_count)
    if max_vocab is not None:
        vocab = uni.select("w")
        big = (
            big.join(F.broadcast(vocab.withColumnRenamed("w", "w1")),
                     "w1", "left_semi")
            .join(F.broadcast(vocab.withColumnRenamed("w", "w2")),
                  "w2", "left_semi")
        )
    rows = (
        uni.select(F.lit(0).alias("kind"), F.col("w").alias("w1"),
                   F.lit(None).cast("string").alias("w2"), "c")
        .unionAll(big.select(F.lit(1).alias("kind"), "w1", "w2", "c"))
        .collect()
    )
    unigram = {r["w1"]: r["c"] for r in rows if r["kind"] == 0}
    bigram = {(r["w1"], r["w2"]): r["c"] for r in rows if r["kind"] == 1}
    return BigramLM(unigram=unigram, bigram=bigram, v=len(unigram) + 1)


def score_perplexity(
    docs: DataFrame, lm: BigramLM, text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll_micro, ppl, ppl_bucket) for every doc.

    One Arrow mapInPandas pass with the broadcast model — map-only,
    zero shuffles. Documents with < 2 tokens have no bigrams: they get
    NULL avg/ppl and bucket 'empty' (CCNet drops them outright).

    carry_cols: extra input columns passed through to the output
    unchanged (appended after the score columns) — cheaper than a
    corpus-size join-back when a caller needs e.g. the language column
    next to the score.
    """
    spark = docs.sparkSession
    lm_bc = spark.sparkContext.broadcast(lm)
    schema = T.StructType(
        list(SCORE_SCHEMA.fields)
        + [docs.schema[c] for c in carry_cols]
    )
    src = docs.select(
        "doc_id", F.col(text_col).alias("__text"), *carry_cols
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model: BigramLM = lm_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {k: [] for k in
                   ("doc_id", "n_bigrams", "avg_nll_micro", "ppl",
                    "ppl_bucket")}
            for doc_id, text in zip(pdf["doc_id"], pdf["__text"]):
                toks = (text or "").split()
                nb = max(len(toks) - 1, 0)
                out["doc_id"].append(doc_id)
                out["n_bigrams"].append(nb)
                if nb == 0:
                    out["avg_nll_micro"].append(None)
                    out["ppl"].append(None)
                    out["ppl_bucket"].append("empty")
                    continue
                nll = 0
                for i in range(nb):
                    nll -= model.logp_micro(toks[i], toks[i + 1])
                avg = nll // nb  # exact int64 floor div, both engines
                out["avg_nll_micro"].append(avg)
                out["ppl"].append(round(math.exp(avg / 1e6), 6))
                out["ppl_bucket"].append(
                    "head" if avg <= HEAD_MAX_AVG_NLL_MICRO
                    else "middle" if avg <= MIDDLE_MAX_AVG_NLL_MICRO
                    else "tail"
                )
            res = pd.DataFrame(out)
            for c in carry_cols:  # one output row per input row, in order
                res[c] = pdf[c].values
            yield res

    return src.mapInPandas(run, schema)


def lm_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    train_modulus: int = 10,
) -> DataFrame:
    """The full CCNet stage over one corpus: train the bigram LM on the
    deterministic reference slice (doc_id % train_modulus == 0 — the
    stand-in for CCNet's trusted Wikipedia dump) and score EVERY
    document, including the slice itself."""
    train = docs.where(F.col("doc_id") % train_modulus == 0)
    lm = train_bigram_lm(train, text_col)
    return score_perplexity(docs, lm, text_col)


def perplexity_tiers(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    train_modulus: int = 10,
    sample_ppm: int = 400_000,
    seed: str = "ppltier-42",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """CCNet §3.3 proper: per-LANGUAGE head/middle/tail terciles with
    DATA-DERIVED cutoffs (score_perplexity's fixed constants are the
    offline-derived stand-in; this derives the thresholds from the
    corpus itself, per language, the way CCNet buckets each dump).

    Scale shape — rank-based tiering WITHOUT sorting the corpus: the
    tercile cutoffs come from a bounded deterministic hash sample
    (``sample_ppm``; md5-le64(seed:doc_id), rerun/partitioning-stable).
    Only the sample is window-sorted, yielding a 2-values-per-language
    cutoff table that is BROADCAST back; corpus-side assignment is a
    map-only compare. A naive ``ntile(3) over (partition by lang)``
    would ship ~90% of a web corpus into the single 'en' sort partition
    — this never shuffles the corpus at all. Cutoffs are exact order
    statistics of the sample (value at rank ceil(n/3) / ceil(2n/3)),
    so they are integers and the assignment is integer-exact.

    Tiers: head (avg_nll <= c33), middle (<= c66), tail; 'empty' for
    <2-token docs; 'untiered' when the language never hit the sample
    (no cutoffs exist — callers route those to a fallback gate).
    """
    from pyspark.sql import Window

    from .sampling import sample_bucket_ppm

    train = docs.where(F.col("doc_id") % train_modulus == 0)
    lm = train_bigram_lm(train, text_col)
    scored = score_perplexity(
        docs, lm, text_col, carry_cols=(lang_col,) + tuple(carry_cols)
    )

    samp = scored.where(
        F.col("avg_nll_micro").isNotNull()
        & (sample_bucket_ppm(F.col("doc_id"), seed) < sample_ppm)
    )
    w = Window.partitionBy(lang_col).orderBy("avg_nll_micro", "doc_id")
    ranked = samp.select(
        lang_col,
        "avg_nll_micro",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy(lang_col)).alias("n"),
    )
    cuts = ranked.groupBy(lang_col).agg(
        F.max(
            F.when(F.expr("r <= (n + 2) div 3"), F.col("avg_nll_micro"))
        ).alias("c33"),
        F.max(
            F.when(F.expr("r <= (2 * n + 2) div 3"), F.col("avg_nll_micro"))
        ).alias("c66"),
    )
    tier = (
        F.when(F.col("avg_nll_micro").isNull(), F.lit("empty"))
        .when(F.col("c33").isNull(), F.lit("untiered"))
        .when(F.col("avg_nll_micro") <= F.col("c33"), F.lit("head"))
        .when(F.col("avg_nll_micro") <= F.col("c66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), lang_col, "left")
        .select(
            "doc_id",
            lang_col,
            "n_bigrams",
            "avg_nll_micro",
            tier.alias("ppl_tier"),
            *carry_cols,
        )
    )


def perplexity_keep_ids(
    docs: DataFrame,
    text_col: str = "text",
    train_modulus: int = 10,
    max_bucket: str = "middle",
) -> DataFrame:
    """doc_ids that survive the perplexity gate: head (and optionally
    middle) buckets — CCNet keeps head+middle and drops tail."""
    keep = {"head"} if max_bucket == "head" else {"head", "middle"}
    scored = lm_perplexity(docs, text_col, train_modulus)
    return scored.where(F.col("ppl_bucket").isin(*keep)).select("doc_id")
