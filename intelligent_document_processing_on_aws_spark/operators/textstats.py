"""Text analysis over a documents table — all native Catalyst expressions.

Implements the frozen specs of kernels/textstats.py (language-ID by marker
words, quality scoring, whitespace + BPE-ish token counting, md5 prefix
fingerprinting) as pure SQL expressions: whole-stage-codegen'd, zero
Python, oracle-verifiable in DuckDB. The pure kernels are the spec /
property-test mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.textstats import LANG_MARKERS, LANG_ORDER, STOPWORDS


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, 0).otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"), F.lit(0)))


def _hits(col: Column, words: tuple[str, ...]) -> Column:
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    # one array Literal: CreateArray(lit, ...) would be rebuilt per
    # lambda element evaluation (the ft_classifier lesson)
    arr = F.lit(list(words))
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(col: Column) -> Column:
    nt = token_count(col)
    return F.when(nt == 0, 0.0).otherwise(_hits(col, STOPWORDS) / nt)


def punct_ratio(col: Column) -> Column:
    """non-alnum, non-space chars / total chars (ASCII corpus semantics)."""
    n_punct = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(F.length(col) == 0, 0.0).otherwise(n_punct / F.length(col))


def quality_score(col: Column) -> Column:
    """0.4*len + 0.3*(1-punct) + 0.3*stopword components — the frozen
    composite of kernels/textstats.quality_score."""
    nt = token_count(col)
    length_c = F.least(nt, F.lit(256)) / 256.0
    punct_c = 1.0 - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    stop_c = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return F.round(0.4 * length_c + 0.3 * punct_c + 0.3 * stop_c, 6)


def detect_lang(col: Column) -> Column:
    """argmax of marker hits; ties broken by LANG_ORDER; 0 hits -> 'und'."""
    hit_cols = {lang: _hits(col, LANG_MARKERS[lang]) for lang in LANG_ORDER}
    best = F.greatest(*hit_cols.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((hit_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def document_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Single-pass stats built the 100 TB-shaped way: explode tokens once,
    aggregate all marker/stopword hit counts in ONE codegen'd groupBy
    (map-side partial agg), join back to per-doc scalars. Avoids repeated
    interpreted higher-order filters — Catalyst's CollapseProject inlines
    staged projections, so a when-chain over filter(transform(split(...)))
    re-evaluates the split per reference (~30x slower measured)."""
    c = F.col(text_col)
    base = docs.select(
        "doc_id",
        c.alias("_t"),
        tokens(c).alias("_toks"),
    ).select(
        "doc_id", "_t", "_toks",
        F.when(F.length(F.trim("_t")) == 0, 0)
        .otherwise(F.size("_toks")).alias("n_tokens"),
        F.length(F.regexp_replace("_t", r"[a-zA-Z0-9\s]", "")).alias("_n_punct"),
        F.md5(F.array_join(F.slice("_toks", 1, 8), " ")).alias("fingerprint"),
        bpe_ish_token_count(F.col("_t")).cast("long").alias("n_bpe_tokens"),
    )
    tok = base.select("doc_id", F.explode(F.transform("_toks", F.lower)).alias("tok"))
    hit_aggs = [
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)).alias("_stop_hits")
    ] + [
        F.sum(F.when(F.col("tok").isin(*LANG_MARKERS[lang]), 1).otherwise(0))
        .alias(f"_hits_{lang}")
        for lang in LANG_ORDER
    ]
    counts = tok.groupBy("doc_id").agg(*hit_aggs)
    staged = base.drop("_toks").join(counts, "doc_id", "left").select(
        "*",
        *[
            F.coalesce(F.col(cname), F.lit(0)).alias(cname + "_f")
            for cname in ["_stop_hits"] + [f"_hits_{lg}" for lg in LANG_ORDER]
        ],
    )
    for cname in ["_stop_hits"] + [f"_hits_{lg}" for lg in LANG_ORDER]:
        staged = staged.drop(cname).withColumnRenamed(cname + "_f", cname)
    nt = F.col("n_tokens")
    stop_ratio = F.when(nt == 0, 0.0).otherwise(F.col("_stop_hits") / nt)
    pr = F.when(F.length("_t") == 0, 0.0).otherwise(F.col("_n_punct") / F.length("_t"))
    quality = F.round(
        0.4 * (F.least(nt, F.lit(256)) / 256.0)
        + 0.3 * (1.0 - F.least(pr * 4.0, F.lit(1.0)))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0)),
        6,
    )
    hit_cols = {lang: F.col(f"_hits_{lang}") for lang in LANG_ORDER}
    best = F.greatest(*hit_cols.values())
    lang_expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        lang_expr = F.when((hit_cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(lang_expr)
    return staged.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        "n_bpe_tokens",
        stop_ratio.alias("stopword_ratio"),
        pr.alias("punct_ratio"),
        quality.alias("quality"),
        lang_expr.alias("lang_guess"),
        "fingerprint",
    )


def paragraph_lang_mix(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-paragraph language mix — CCNet segments language-ID at the
    paragraph level, not the page level (Wenzek et al. 2020 §3.2), so a
    bilingual page routes each half to the right-language pipeline.

    Output: (doc_id, n_paras, majority_lang, majority_ppm, n_langs) —
    majority decided by (count desc, lang asc) so ties are deterministic;
    majority_ppm is the exact-integer share of paragraphs in the majority
    language. Docs with no non-blank line produce no row (the caller's
    blank-page policy, not this operator's).

    Shape: the line explode and per-line lang CASE are map-side; one
    partial-agg groupBy (doc_id, lang) — at most n_langs rows per doc
    cross the wire — then a second tiny groupBy doc_id. No windows, no
    joins."""
    lines_arr = F.filter(
        F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
                    lambda x: F.trim(x, F.lit(" \t\r"))),
        lambda x: x != "",
    )
    per = docs.select(
        "doc_id", F.explode(lines_arr).alias("para")
    ).select("doc_id", detect_lang(F.col("para")).alias("lang"))
    counts = per.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_paras"),
            F.min(F.struct((-F.col("n")).alias("neg"),
                           F.col("lang").alias("lang"))).alias("__best"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            "doc_id", "n_paras",
            F.col("__best.lang").alias("majority_lang"),
            F.expr("CAST((1000000 * -__best.neg) div n_paras AS BIGINT)")
            .alias("majority_ppm"),
            "n_langs",
        )
    )
