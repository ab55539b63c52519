"""BM25 keyword search over the document corpus.

The classic probabilistic ranking function (Robertson & Spärck Jones;
the Lucene/Elasticsearch default — public formula), expressed
Spark-first for corpus-scale retrieval WITHOUT building a persistent
inverted index:

- tokenization is the corpus-wide frozen convention (lowercase,
  whitespace split, edge punctuation stripped — the stopword rule in
  operators/quality.py);
- the posting explosion is pruned MAP-SIDE to the query's terms before
  any aggregation (a broadcast `array_contains` filter over the scan),
  so the shuffle carries only matching (doc, term) rows — at 100 TB the
  cost is the scan plus a shuffle of the query's true postings;
- document frequency is computed per query term from the pruned
  postings; |corpus| and average doc length are single scalar
  aggregates (collected once — two numbers, not data);
- per-document scores fold the per-term contributions in TERM-SORTED
  order (array_sort + aggregate), so float summation order is
  deterministic and the DuckDB oracle reproduces it bit-for-bit.

Scoring (Lucene variant, k1=1.2, b=0.75):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  tf_norm = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  score(d) = sum_t idf(t) * tf_norm(t, d)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75

_EDGE_PUNCT = ".,;:!?\"'()[]"


def _tokens(col):
    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")
    return F.filter(
        F.transform(toks, lambda x: F.trim(x, F.lit(_EDGE_PUNCT))),
        lambda x: x != "",
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Top-k (doc_id, score, n_hits) for a term query, BM25-ranked.
    Deterministic: scores fold in term-sorted order, ties break on
    doc_id ASC."""
    terms = sorted({t.lower() for t in query_terms})
    spark = docs.sparkSession

    base = docs.select(
        "doc_id", _tokens(F.col(text_col)).alias("__toks")
    ).select("doc_id", "__toks", F.size("__toks").alias("dl"))

    # two corpus scalars (N, avgdl) — a single tiny collect
    n_docs, avgdl = base.agg(
        F.count(F.lit(1)), F.avg("dl")
    ).first()
    if not n_docs:
        return spark.createDataFrame(
            [], "doc_id long, score double, n_hits int"
        )

    # map-side pruning: docs keep only their QUERY-term counts; no
    # explosion of non-matching terms ever reaches the shuffle
    qarr = F.array(*[F.lit(t) for t in terms])
    tf_arr = F.transform(
        qarr, lambda q: F.size(F.filter("__toks", lambda x: x == q))
    )
    hits = (
        base.select(
            "doc_id", "dl",
            F.arrays_zip(qarr.alias("term"), tf_arr.alias("tf"))
            .alias("__z"),
        )
        .select(
            "doc_id", "dl", F.explode("__z").alias("h")
        )
        .select(
            "doc_id", "dl",
            F.col("h.term").alias("term"), F.col("h.tf").alias("tf"),
        )
        .where(F.col("tf") > 0)
    )

    df_by_term = hits.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        hits.join(F.broadcast(df_by_term), "term")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "tscore",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / float(avgdl))
            ),
        )
    )
    # fold per-term contributions in term-sorted order: float summation
    # order is fixed, so the oracle reproduces scores bit-for-bit
    agg = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "tscore"))),
            F.lit(0.0),
            lambda acc, x: acc + x["tscore"],
        ).alias("score"),
        F.count(F.lit(1)).cast("int").alias("n_hits"),
    )
    return agg.orderBy(F.desc("score"), "doc_id").limit(k)
