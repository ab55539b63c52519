"""Deterministic per-section summarization + document markdown assembly.

Mirrors the reference's summarization dataflow (summarization/service.py:
402-689: per-section summaries computed in parallel, then combined per
document; markdown_formatter.py:15-418: TOC + per-section markdown) with a
deterministic extractive summarizer (leading tokens of the section text)
instead of the LLM call: one native projection per section, then one
groupBy(doc) feeding the SummaryMarkdownFormatter mirror in Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUMMARY_TOKENS = 25


def summarize_sections(sections: DataFrame, n_tokens: int = SUMMARY_TOKENS) -> DataFrame:
    """Adds `summary`: first n_tokens whitespace tokens of section_text."""
    toks = F.split(F.trim("section_text"), r"\s+")
    summary = F.array_join(F.slice(toks, 1, n_tokens), " ")
    return sections.select(
        "doc_id", "section_id", "classification",
        summary.alias("summary"),
    )


def format_document_summaries(
    section_summaries: DataFrame,
    content_col: str = "summary",
    include_toc: bool = True,
) -> DataFrame:
    """Reference-parity combined summary per document: (doc_id,
    summary_markdown) via the SummaryMarkdownFormatter kernel mirror
    (markdown_formatter.py:15-418 — duplicate-title removal, citation
    prefixing, TOC/anchors/back-to-top/separators).

    Shape: one groupBy(doc_id) with sorted collect_list, then the pure
    kernel inside an Arrow batch — per-document work is independent,
    no window, no driver collect."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels.summary_md import format_document_summary

    grouped = (
        section_summaries.select(
            "doc_id",
            F.struct(
                F.col("section_id").cast("int").alias("sid"),
                F.col("section_id").alias("section_id"),
                F.col("classification").alias("classification"),
                F.col(content_col).alias("content"),
            ).alias("sec"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sec")).alias("secs"))
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("summary_markdown", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "summary_markdown": []}
            for doc_id, secs in zip(pdf["doc_id"], pdf["secs"]):
                triples = [
                    (s["section_id"], s["classification"], s["content"])
                    for s in secs
                ]
                out["doc_id"].append(doc_id)
                out["summary_markdown"].append(
                    format_document_summary(triples, include_toc=include_toc)
                )
            yield pd.DataFrame(out)

    return grouped.mapInPandas(run, schema)
