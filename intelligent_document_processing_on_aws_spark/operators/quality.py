"""Gopher/C4-style document-quality signals as a Spark curation operator.

Two execution tiers, chosen per signal by its complexity class:

- linear, stateless signals (symbol/word ratio, ellipsis- and
  bullet-line fractions, alphabetic-word fraction) are native Catalyst
  higher-order array expressions — whole-stage-codegen'd, zero Python;
- repetition signals (duplicate lines, top-n-gram char mass) need a
  per-document frequency table; they run in ONE Arrow-batched
  mapInPandas over the pure kernel (kernels/quality.repetition_signals,
  O(length) per doc). Map-only: the operator introduces NO shuffle, so
  at 100 TB it scales exactly like the extraction stage itself.

The gate thresholds (DEFAULT_GATES) follow the published Gopher rules
(Rae et al. 2021, Table A1): repetition-heavy documents are dropped
before the near-dup stage ever sees them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.quality import REPETITION_COLS, repetition_signals

# Gopher Table A1 (public paper): documents exceeding any of these are
# repetition-dominated and excluded from the training corpus
DEFAULT_GATES = {
    "dup_line_fraction": 0.30,
    "dup_line_char_fraction": 0.20,
    "top2gram_char_fraction": 0.20,
    "top3gram_char_fraction": 0.18,
    "top4gram_char_fraction": 0.16,
    "dup5gram_char_fraction": 0.15,
    "dup10gram_char_fraction": 0.10,
    "symbol_word_ratio": 0.10,
}


def _trunc6(c: Column) -> Column:
    """floor(x * 1e6) / 1e6 — the engine-invariant quantization the pure
    kernel uses (kernels/quality.trunc6); F.round is mode-ambiguous vs
    DuckDB on exact .5 ulps."""
    return F.floor(c * 1e6) / 1e6


def _count_literal(col: Column, lit: str) -> Column:
    """Non-overlapping occurrence count of a literal substring."""
    return (F.length(col) - F.length(F.replace(col, F.lit(lit), F.lit("")))) \
        / len(lit)


def _lines(col: Column) -> Column:
    trimmed = F.transform(
        F.split(col, "\n"), lambda x: F.trim(x, F.lit(" \t\r"))
    )
    return F.filter(trimmed, lambda x: x != "")


def _words(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")


def _signal_cols(tt: Column, w: Column, li: Column) -> dict[str, Column]:
    """The four native quality signals over (text, word array, line
    array) columns — the ONE definition shared by the per-column public
    helpers below (which pass the unstaged arrays) and by doc_quality
    (which stages the arrays as named columns first, the r6 staging
    discipline — an interpreted lambda re-evaluates whatever it closes
    over per element, so callers evaluating many signals should stage)."""
    symbols = (
        _count_literal(tt, "#")
        + _count_literal(F.replace(tt, F.lit("…"), F.lit("...")), "...")
    )
    nw = F.size(w)
    nl = F.size(li)
    ends = F.filter(li, lambda x: x.endswith("...") | x.endswith("…"))
    bullets = F.filter(
        li,
        lambda x: x.startswith("- ") | x.startswith("* ")
        | x.startswith("•"),
    )
    alpha = F.filter(w, lambda x: x.rlike("[a-z]"))
    return {
        "symbol_word_ratio":
            F.when(nw == 0, 0.0).otherwise(_trunc6(symbols / nw)),
        "ellipsis_line_fraction":
            F.when(nl == 0, 0.0).otherwise(_trunc6(F.size(ends) / nl)),
        "bullet_line_fraction":
            F.when(nl == 0, 0.0).otherwise(_trunc6(F.size(bullets) / nl)),
        "alpha_word_fraction":
            F.when(nw == 0, 0.0).otherwise(_trunc6(F.size(alpha) / nw)),
    }


def symbol_word_ratio(col: Column) -> Column:
    """(# of '#' + '...' + ellipsis chars) / words — Gopher's symbol ratio."""
    return _signal_cols(col, _words(col), _lines(col))["symbol_word_ratio"]


def ellipsis_line_fraction(col: Column) -> Column:
    return _signal_cols(col, _words(col), _lines(col))["ellipsis_line_fraction"]


def bullet_line_fraction(col: Column) -> Column:
    return _signal_cols(col, _words(col), _lines(col))["bullet_line_fraction"]


def alpha_word_fraction(col: Column) -> Column:
    return _signal_cols(col, _words(col), _lines(col))["alpha_word_fraction"]


_NATIVE_COLS = (
    "symbol_word_ratio",
    "ellipsis_line_fraction",
    "bullet_line_fraction",
    "alpha_word_fraction",
)

_QUALITY_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType())]
    + [T.StructField(c, T.DoubleType()) for c in REPETITION_COLS]
    + [T.StructField(c, T.DoubleType()) for c in _NATIVE_COLS]
)


def doc_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality-signal table, computed in ONE pass over the
    scan: the native columnar signals are evaluated first (whole-stage
    codegen over the scan), then flow THROUGH the single Arrow
    mapInPandas that adds the repetition signals. No join, no second
    scan, no shuffle — the whole operator is map-only lineage at any
    scale."""
    # STAGED evaluation: text, word array and line array become named
    # columns first, then every signal reads the names. Computing the
    # four signals straight off the caller's text EXPRESSION inlined
    # that expression (and the split/filter token work) once per
    # reference — ~10 re-evaluations per row, measured 3.6 s vs 0.2 s
    # for the symbol signal alone at sf0.1. Same arithmetic on the same
    # values, so the signal doubles are bit-identical.
    t = F.col(text_col)
    staged = docs.select("doc_id", t.alias("__text")).select(
        "doc_id",
        "__text",
        _words(F.col("__text")).alias("__w"),
        _lines(F.col("__text")).alias("__l"),
    )
    sig = _signal_cols(F.col("__text"), F.col("__w"), F.col("__l"))
    src = staged.select(
        "doc_id",
        "__text",
        *[sig[name].alias(name) for name in _NATIVE_COLS],
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL text arrives as None through Arrow — treat as empty
            # (all-zero signals) instead of failing the whole task
            sig = [repetition_signals(t or "") for t in pdf["__text"]]
            out = {"doc_id": pdf["doc_id"]}
            for j, c in enumerate(REPETITION_COLS):
                out[c] = [s[j] for s in sig]
            for c in _NATIVE_COLS:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return src.mapInPandas(run, _QUALITY_SCHEMA)


def quality_gate_ids(
    docs: DataFrame, text_col: str = "text", gates: dict | None = None
) -> DataFrame:
    """doc_ids that PASS every repetition/quality gate (Gopher A1)."""
    gates = DEFAULT_GATES if gates is None else gates
    q = doc_quality(docs, text_col)
    cond = F.lit(True)
    for name, cap in gates.items():
        cond = cond & (F.col(name) <= cap)
    return q.where(cond).select("doc_id")


# -- Gopher word-level gates (Rae et al. 2021, Table A1 word rows) -----------

# a document must contain at least MIN_REQUIRED_STOPWORD_HITS distinct
# members of this frozen list to count as running English prose
REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

GOPHER_WORD_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_stopword_hits": 2,
}

# punctuation stripped from word edges before the stopword membership
# test ('the,' counts as 'the'); ASCII-only so Spark/DuckDB trim agree
_EDGE_PUNCT = ".,;:!?\"'()[]"


def _bare_words(col: Column) -> Column:
    return F.transform(_words(col), lambda x: F.trim(x, F.lit(_EDGE_PUNCT)))


def word_count(col: Column) -> Column:
    """Whitespace-token count (Gopher's 50..100k document-length gate)."""
    return F.size(_words(col))


def mean_word_length(col: Column) -> Column:
    """Mean whitespace-token length, trunc6-quantized; 0.0 for empty.
    Multiplies BEFORE dividing (floor(total*1e6/n)/1e6): total*1e6 is
    exact in a double, so the quantization never lands one ulp below a
    representable boundary (4.1 stays 4.1, not 4.099999) and matches
    the SQL oracle's identical operand order."""
    words = _words(col)
    nw = F.size(words)
    total = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return F.when(nw == 0, F.lit(0.0)).otherwise(
        F.floor(total * F.lit(1e6) / nw) / 1e6
    )


def required_stopword_hits(col: Column) -> Column:
    """How many DISTINCT required stopwords appear as whole (edge-punct
    stripped) words — Gopher drops documents with fewer than 2."""
    bare = _bare_words(col)
    hits = F.lit(0)
    for w in REQUIRED_STOPWORDS:
        hits = hits + F.array_contains(bare, w).cast("int")
    return hits


def doc_word_stats(
    docs: DataFrame, text_col: str = "text", bounds: dict | None = None
) -> DataFrame:
    """(doc_id, n_words, mean_word_len, stopword_hits, word_gates_pass)
    — pure codegen'd projection over the scan, zero Python, zero
    shuffles; the three word-level Gopher gates evaluated in one pass.
    `bounds` overrides GOPHER_WORD_BOUNDS keys (partial dicts fine)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    b = {**GOPHER_WORD_BOUNDS, **(bounds or {})}
    nw = word_count(t).alias("n_words")
    ml = mean_word_length(t).alias("mean_word_len")
    sh = required_stopword_hits(t).alias("stopword_hits")
    out = docs.select("doc_id", nw, ml, sh)
    gate = (
        (F.col("n_words") >= b["min_words"])
        & (F.col("n_words") <= b["max_words"])
        & (F.col("mean_word_len") >= b["min_mean_word_len"])
        & (F.col("mean_word_len") <= b["max_mean_word_len"])
        & (F.col("stopword_hits") >= b["min_stopword_hits"])
    )
    return out.withColumn("word_gates_pass", gate)


_COMPRESSION_SCHEMA = (
    "doc_id long, n_bytes long, n_zlib long, compression_ppm long"
)


def compression_ratio(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document zlib compression-ratio signal — one Arrow pass,
    map-only, all-integer output (kernels/quality.compression_signals):
    (doc_id, n_bytes, n_zlib, compression_ppm).  Low compression_ppm =
    repetitive/templated content; used as a cheap pre-dedup junk gate
    the way CCNet buckets documents by LM perplexity."""
    from ..kernels.quality import compression_signals

    src = docs.select("doc_id", F.col(text_col).alias("__text"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sig = [compression_signals(t) for t in pdf["__text"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": [s[0] for s in sig],
                "n_zlib": [s[1] for s in sig],
                "compression_ppm": [s[2] for s in sig],
            })

    return src.mapInPandas(run, _COMPRESSION_SCHEMA)
