"""Page classification + consecutive-run sectioning — native DataFrame ops.

Classification mirrors the reference's shortcut chain
(classification/service.py):
  1. document_name_regex on the doc url => whole doc that class, ONE
     section regardless of boundaries (:191-210, :1634-1659);
  2. single configured class => constant (:1661-1686);
  3. document_page_content_regex per page (:570-597, :1054-1076);
  4. default class.
All are `when()` chains — Catalyst constant-folds and codegens them; no UDF.

Sectioning mirrors _group_consecutive_pages (:1823-1884): pages sorted
numerically; a new section starts when the class changes OR the page's
boundary is "start". Spark shape: Window.partitionBy(doc).orderBy(page) with
lag() + a running sum of change-flags => section_seq; then one groupBy
building ordered page lists and the section text via sort_array over
(page_num, text) structs + array_join with "\n" — the byte-identity page
concat contract (extraction/service.py:979-1016).

Scale notes: the only shuffle is the window/groupBy on doc_id — the natural
key; pages of one doc co-locate, docs spread evenly (no giant-doc skew at
web scale since packets are small). AQE coalesces the post-agg partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import BOUNDARY_START_MARKER, DEFAULT_CLASS, DOC_CLASSES


def classify_pages(pages: DataFrame, classes: dict | None = None,
                   text_col: str = "text") -> DataFrame:
    """Adds `classification` and `boundary` columns to per-page rows."""
    classes = classes or DOC_CLASSES

    # shortcut 2: single configured class => constant classification
    if len(classes) == 1:
        only = next(iter(classes))
        doc_name_cls = F.lit(None).cast("string")
        content_cls = F.lit(only)
    else:
        name_branches = [
            F.when(F.col("url").rlike(cfg["document_name_regex"]), F.lit(name))
            for name, cfg in classes.items()
            if cfg.get("document_name_regex")
        ]
        doc_name_cls = F.coalesce(*name_branches, F.lit(None).cast("string")) \
            if name_branches else F.lit(None).cast("string")

        content_branches = [
            F.when(F.col(text_col).rlike(cfg["document_page_content_regex"]), F.lit(name))
            for name, cfg in classes.items()
            if cfg.get("document_page_content_regex")
        ]
        content_cls = F.coalesce(*content_branches, F.lit(DEFAULT_CLASS)) \
            if content_branches else F.lit(DEFAULT_CLASS)

    boundary = F.when(
        F.col(text_col).contains(BOUNDARY_START_MARKER), F.lit("start")
    ).otherwise(F.lit("continue"))

    return (
        pages.withColumn("doc_name_class", doc_name_cls)
        .withColumn(
            "classification", F.coalesce(F.col("doc_name_class"), content_cls)
        )
        .withColumn(
            # doc-name shortcut ignores boundaries: whole doc = one section
            "boundary",
            F.when(F.col("doc_name_class").isNotNull(), F.lit("continue"))
            .otherwise(boundary),
        )
    )


def group_sections(classified: DataFrame, doc_col: str = "doc_id",
                   page_col: str = "page_num",
                   text_col: str = "text") -> DataFrame:
    """Consecutive-run grouping -> one row per section.

    Output: (doc_id, section_id string, classification, page_nums array,
    section_text) with section_id 1-based per doc (reference section ids are
    stringified ordinals, classification/service.py:1860-1880).
    """
    w = Window.partitionBy(doc_col).orderBy(page_col)
    prev_cls = F.lag("classification").over(w)
    is_new = (
        prev_cls.isNull()
        | (F.col("classification") != prev_cls)
        | (F.col("boundary") == "start")
    )
    seq = F.sum(F.when(is_new, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_seq = classified.withColumn("section_seq", seq)
    return (
        with_seq.groupBy(doc_col, "section_seq")
        .agg(
            F.any_value("classification").alias("classification"),
            F.any_value("url").alias("url"),
            F.sort_array(
                F.collect_list(F.struct(F.col(page_col).alias("p"), F.col(text_col).alias("t")))
            ).alias("ordered"),
        )
        .select(
            F.col(doc_col),
            F.col("section_seq").cast("string").alias("section_id"),
            "classification",
            "url",
            F.expr("transform(ordered, x -> x.p)").alias("page_nums"),
            F.array_join(F.expr("transform(ordered, x -> x.t)"), "\n").alias("section_text"),
        )
    )


def classify_and_section(pages: DataFrame, classes: dict | None = None) -> DataFrame:
    return group_sections(classify_pages(pages, classes))
