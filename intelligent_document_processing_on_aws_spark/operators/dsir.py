"""DSIR: data selection via importance resampling (hashed-n-gram LM).

Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling" (NeurIPS 2023): fit bag-of-n-gram unigram models over a
high-quality TARGET slice and over the RAW pool, score every raw
document by its log importance weight

    log w_d = sum_f c_d(f) * (log p_target(f) - log p_raw(f))

and keep the top-weighted examples.  Features here are word bigrams
(the paper's hashed unigram+bigram bag); the log is computed in exact
FIXED-POINT integer arithmetic so the score is order-free and
bit-identical under any partitioning (the float log-sum of a real DSIR
run is associativity-sensitive; a hash-compared oracle needs integers —
same discipline as the fixed-point PageRank in ``linkgraph.py``):

    L3(n) = floor(3 * log2(n)) = bit_length(n^3) - 1
          = length(bin(n*n*n)) - 1          (Spark AND DuckDB),

so scores are in units of (1/3) log2.  Counts saturate at SAT=2_000_000
before cubing so n^3 stays inside int64; saturation only compresses the
score of features more frequent than 2M occurrences (monotone, documented).

100-TB shape
------------
* tokenize/bigram: codegen'd split/transform — no Python anywhere;
* per-doc feature counts: explode + groupBy(doc, feat) — map-side
  partial aggregation, the one unavoidable shuffle;
* corpus/target feature counts: re-aggregation of the per-doc table;
* with ``hash_buckets=B`` the feature space collapses to B buckets
  (the paper's hashing trick): the score table becomes a bounded
  B-row broadcast instead of a vocabulary-sized shuffle join;
* top-k selection: distributed TakeOrdered (orderBy+limit on (score,
  id)) to find the k-th threshold, then a broadcast threshold compare —
  never a single-partition global window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# saturation bound: SAT^3 = 8e18 < 2^63-1
SAT = 2_000_000


def _fp_log2x3(n: Column) -> Column:
    """floor(3*log2(n)) for n >= 1, exact integer (bit-length of n^3)."""
    x = F.least(n.cast("long"), F.lit(SAT).cast("long"))
    return (F.length(F.bin(x * x * x)) - F.lit(1)).cast("long")


def _tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+"),
        lambda w: w != F.lit(""),
    )


def _bigrams_of(toks: Column) -> Column:
    """Word bigrams of an ALREADY-STAGED token array column.

    The token array must be a named column, not the raw split/filter
    expression tree: an interpreted higher-order lambda re-evaluates
    every expression it closes over per ELEMENT, so closing over the
    un-staged tokenizer made each element_at re-split the whole text —
    O(L^2) per document, measured 8x slower at sf0.1 (the same staging
    discipline as operators/ft_classifier)."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda w, i: F.concat(w, F.lit(" "), F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dsir_weights(
    docs: DataFrame,
    target_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    hash_buckets: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(doc_id, n_grams, dsir_score, selected) for EVERY input doc.

    target_cond: boolean Column marking the high-quality target slice
    (e.g. ``F.col('lang') == 'en'`` or a curated-subset flag).  Laplace
    +1 smoothing on feature and total counts.  selected marks the top_k
    docs by (dsir_score DESC, doc_id ASC) — deterministic because the
    score is an exact integer."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        target_cond.alias("is_target"),
        _tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        "is_target",
        F.explode_outer(_bigrams_of(F.col("__toks"))).alias("feat"),
    )
    if hash_buckets is not None:
        base = base.withColumn(
            "feat",
            F.when(
                F.col("feat").isNotNull(),
                F.pmod(F.xxhash64("feat"), F.lit(hash_buckets)).cast("string"),
            ),
        )
    # per-doc feature counts (explode_outer keeps gram-less docs as a
    # NULL-feat row so they survive to the output with n_grams = 0)
    dcounts = base.groupBy("doc_id", "is_target", "feat").agg(
        F.sum(F.when(F.col("feat").isNotNull(), 1).otherwise(0)).alias("c")
    )
    # the gram table feeds FOUR downstream plan arms (corpus/target
    # feature counts, the score join, and both evaluations of `scored`
    # via the top-k threshold branch); without truncation Spark
    # re-explodes and re-shuffles the interpreted-HOF bigram projection
    # once per arm — at 100 TB that is four corpus scans instead of one
    # (same one-shot discipline as the dedup signature tables)
    from .dedup import _truncate_lineage

    dcounts = _truncate_lineage(dcounts, checkpoint_dir, eager=False)
    fcounts = (
        dcounts.where(F.col("feat").isNotNull())
        .groupBy("feat")
        .agg(
            F.sum("c").alias("cr"),
            F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias("ct"),
        )
        .withColumn("s", _fp_log2x3(F.col("ct") + 1) - _fp_log2x3(F.col("cr") + 1))
    )
    tot = fcounts.agg(
        (
            _fp_log2x3(F.sum("ct") + 1) - _fp_log2x3(F.sum("cr") + 1)
        ).alias("norm")
    )
    score_join = fcounts.select("feat", "s")
    if hash_buckets is not None:
        score_join = F.broadcast(score_join)
    scored = (
        dcounts.join(score_join, "feat", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.coalesce(
                F.sum(F.col("c") * F.col("s")), F.lit(0)
            ).cast("long").alias("raw"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_grams",
            (F.col("raw") - F.col("n_grams") * F.col("norm")).alias("dsir_score"),
        )
    )
    # scored is consumed twice (threshold derivation + final compare);
    # truncate so the join/agg chain above runs once
    scored = _truncate_lineage(scored, checkpoint_dir, eager=False)
    # k-th threshold via distributed TakeOrdered: the limit(k) set's last
    # element under (score DESC, id ASC) is max(struct(-score, id))
    thr = (
        scored.orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(top_k)
        .agg(
            F.max(
                F.struct(
                    (-F.col("dsir_score")).alias("ns"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("t")
        )
        .select(
            (-F.col("t.ns")).alias("thr_s"), F.col("t.d").alias("thr_d")
        )
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_grams",
        "dsir_score",
        (
            (F.col("dsir_score") > F.col("thr_s"))
            | (
                (F.col("dsir_score") == F.col("thr_s"))
                & (F.col("doc_id") <= F.col("thr_d"))
            )
        ).alias("selected"),
    )
