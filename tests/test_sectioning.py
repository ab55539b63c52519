"""Classification + sectioning vs golden groupings (reference rule parity)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.classify import (
    classify_and_section,
    classify_pages,
    group_sections,
)


def _packet_pages(spark, fixtures_dir):
    return spark.read.parquet(os.path.join(fixtures_dir, "packet_pages.parquet"))


def _golden_sections(spark, fixtures_dir):
    return spark.read.parquet(os.path.join(fixtures_dir, "golden_sections.parquet"))


def test_sections_match_golden(spark, fixtures_dir):
    pages = _packet_pages(spark, fixtures_dir)
    golden = _golden_sections(spark, fixtures_dir)
    result = classify_and_section(pages).select(
        "doc_id", "section_id", "classification",
        F.to_json("page_nums").alias("page_nums_json"), "section_text",
    )
    j = result.alias("r").join(
        golden.alias("g"), ["doc_id", "section_id"], "full_outer"
    )
    bad = j.where(
        ~F.col("r.classification").eqNullSafe(F.col("g.classification"))
        | ~F.col("r.page_nums_json").eqNullSafe(F.col("g.page_nums_json"))
        | ~F.col("r.section_text").eqNullSafe(F.col("g.section_text"))
    )
    assert bad.count() == 0
    assert result.count() == golden.count()


def test_boundary_start_splits_same_class(spark):
    """[A, A(start), A] -> sections [1: p1], [2: p2,p3] (FIXTURES.md §5)."""
    rows = [
        (1, 1, "u", "ACCOUNT NO: 1\nx"),
        (1, 2, "u", "BEGIN DOCUMENT\nACCOUNT NO: 2\ny"),
        (1, 3, "u", "ACCOUNT NO: 2\nz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    secs = classify_and_section(df).orderBy("section_id").collect()
    assert [(s.section_id, s.page_nums) for s in secs] == [("1", [1]), ("2", [2, 3])]
    assert all(s.classification == "bank_statement" for s in secs)
    assert secs[1].section_text == "BEGIN DOCUMENT\nACCOUNT NO: 2\ny\nACCOUNT NO: 2\nz"


def test_class_change_splits(spark):
    rows = [
        (7, 1, "u", "ACCOUNT NO: 1"),
        (7, 2, "u", "ACCOUNT NO: 1"),
        (7, 3, "u", "INVOICE NO: X"),
        (7, 4, "u", "INVOICE NO: X"),
        (7, 5, "u", "INVOICE NO: X"),
        (7, 6, "u", "ACCOUNT NO: 1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    secs = classify_and_section(df).orderBy("section_id").collect()
    assert [(s.classification, s.page_nums) for s in secs] == [
        ("bank_statement", [1, 2]),
        ("invoice", [3, 4, 5]),
        ("bank_statement", [6]),
    ]


def test_doc_name_regex_single_section(spark):
    """url matches document_name_regex -> whole doc one section, boundaries ignored."""
    rows = [
        (3, 1, "https://docs.example/taxform-packet/1", "FORM TYPE: W-2"),
        (3, 2, "https://docs.example/taxform-packet/1", "BEGIN DOCUMENT\nINVOICE NO: 9"),
        (3, 3, "https://docs.example/taxform-packet/1", "random filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    secs = classify_and_section(df).collect()
    assert len(secs) == 1
    assert secs[0].classification == "tax_form"
    assert secs[0].page_nums == [1, 2, 3]


def test_single_class_shortcut(spark):
    classes = {"only_class": {"attributes": []}}
    rows = [(5, 1, "u", "anything"), (5, 2, "u", "at all")]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    secs = classify_and_section(df, classes=classes).collect()
    assert len(secs) == 1 and secs[0].classification == "only_class"


def test_default_class(spark):
    rows = [(9, 1, "u", "no markers here")]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    out = classify_pages(df).collect()
    assert out[0].classification == "webpage"


def test_page_order_is_numeric(spark):
    """page 10 must sort after page 9 (reference sorts numerically,
    classification/service.py:1771-1787)."""
    rows = [(4, i, "u", f"line{i}") for i in [10, 2, 1, 9, 11]]
    df = spark.createDataFrame(rows, "doc_id long, page_num int, url string, text string")
    secs = group_sections(classify_pages(df)).collect()
    assert secs[0].page_nums == [1, 2, 9, 10, 11]
    assert secs[0].section_text == "line1\nline2\nline9\nline10\nline11"


# ---------------------------------------------------------------------------
# holistic packet segmentation (classification/service.py:2070-2150)
# ---------------------------------------------------------------------------


def _seg_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, seg_idx long, ordinal_start_page long, "
        "ordinal_end_page long, type string",
    )


def _pages_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, page_num long, url string, text string"
    )
