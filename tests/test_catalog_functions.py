"""Reporting sinks (catalog), the comparator Columns and the scalar
kernels of kernels/textnorm."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
    extract_class_from_text,
    feature_combination_suffix,
    normalize_boolean_value,
    strip_punctuation_space,
    token_limit_warning,
)
from intelligent_document_processing_on_aws_spark.operators.evaluation import (
    norm_exact,
    norm_numeric,
)
from intelligent_document_processing_on_aws_spark.sources.catalog import (
    list_warehouse_tables,
    write_document_sections,
    write_metrics_table,
)


def test_scalar_columns_match_kernels(spark):
    vals = ["A, B!", "  x   y ", "$1,234.50", "(99)", "TRUE", "no", "maybe", ""]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    rows = df.select(
        "v",
        norm_exact(F.col("v")).alias("s"),
        norm_numeric(F.col("v")).alias("n"),
    ).collect()
    for r in rows:
        assert r.s == strip_punctuation_space(r.v)
    byv = {r.v: r for r in rows}
    assert byv["$1,234.50"].n == 1234.50
    assert byv["(99)"].n == 99.0
    assert byv["A, B!"].n is None
    assert [normalize_boolean_value(v) for v in vals] == [
        None, None, None, None, True, False, None, None]
    assert normalize_boolean_value(" Y ") is True
    assert normalize_boolean_value(0) is False


def test_write_document_sections_dynamic_tables(spark, fixtures_dir, tmp_path):
    wh = str(tmp_path / "wh")
    attrs = spark.read.parquet(os.path.join(fixtures_dir, "golden_attributes.parquet"))
    written = write_document_sections(attrs, wh, mode="overwrite")
    assert "document_sections_bank_statement" in written
    bank = spark.read.parquet(os.path.join(wh, "document_sections_bank_statement"))
    # group flattened to struct column, list to array column
    assert "account_number" in bank.columns
    assert "transactions" in bank.columns
    row = bank.where(F.size("transactions") >= 2).first()
    assert row is not None and row.transactions[0].Amount is not None
    assert list_warehouse_tables(spark, wh) == sorted(written)


def test_write_metrics_table_date_partition(spark, tmp_path):
    wh = str(tmp_path / "wh2")
    df = spark.createDataFrame(
        [(1, 0.9, "2025-03-04T10:00:00Z"), (2, 0.8, "2025-03-05T11:00:00Z")],
        "doc_id long, f1 double, event_time string",
    ).withColumn("event_time", F.to_timestamp("event_time"))
    write_metrics_table(df, wh, "metrics", event_time_col="event_time", mode="overwrite")
    out = spark.read.parquet(os.path.join(wh, "metrics"))
    # hive partition inference types the dir value as DATE
    assert set(str(r.date) for r in out.select("date").collect()) == {"2025-03-04", "2025-03-05"}
    # partition dirs exist on disk (hive layout)
    assert os.path.isdir(os.path.join(wh, "metrics", "date=2025-03-04"))


def test_feature_combination_suffix_all_combos():
    """Every subset of {TABLES, FORMS, LAYOUT, SIGNATURES} gets the
    suffix of the reference's billing rules (ocr/service.py:500-536):
    tables and forms outrank layout, layout outranks signatures."""
    from itertools import combinations

    feats = ["TABLES", "FORMS", "LAYOUT", "SIGNATURES"]
    for k in range(5):
        for c in combinations(feats, k):
            f = set(c)
            want = ("-Tables+Forms" if {"TABLES", "FORMS"} <= f
                    else "-Tables" if "TABLES" in f
                    else "-Forms" if "FORMS" in f
                    else "-Layout" if "LAYOUT" in f
                    else "-Signatures" if "SIGNATURES" in f
                    else "")
            assert feature_combination_suffix(list(c)) == want, c
    assert feature_combination_suffix(None) == ""
    # spot semantics: signatures free with tables; layout free with forms
    assert feature_combination_suffix(["TABLES", "SIGNATURES"]) == "-Tables"
    assert feature_combination_suffix(["FORMS", "LAYOUT"]) == "-Forms"
    assert feature_combination_suffix(["SIGNATURES"]) == "-Signatures"


def test_token_limit_warning_parity():
    """chars/4 estimate semantics of utils check_token_limit: warning iff
    configured budget < estimate; no budget -> always None."""
    text, results = "x" * 300, "y" * 100  # estimate = 100 tokens
    assert token_limit_warning(text, results, 99) == (
        "The max_tokens value of 99 is too low for this document.")
    assert token_limit_warning(text, results, 100) is None  # 100 < 100 false
    assert token_limit_warning(text, results, None) is None
    assert token_limit_warning("", "", 1) is None


def test_extract_class_from_text_parity():
    """Fixed pattern order, case preservation, quote strip, EOL slicing
    (classification/service.py:1432-1453)."""
    cases = {
        "Class: Invoice\nrest": "Invoice",  # case-insensitive find, case kept
        'classification: "bank_statement"': "bank_statement",
        "The document type: W2 Form": "W2 Form",
        "document class: Receipt": "Receipt",  # 'class: ' substring hit wins
        "type: 'letter'": "letter",
        "no label here": "",
        "TYPE: loud\nquiet": "loud",
        "class:missing-space": "",  # no trailing space -> no match
        "prefix\nclass: tail value  ": "tail value",
    }
    for text, want in cases.items():
        assert extract_class_from_text(text) == want, text


def test_extract_class_from_text_whitespace_and_unicode():
    """Regression inputs from review: CRLF values, tab-wrapped quotes, and
    a length-changing lowercase char must come out clean."""
    cases = [
        "class: Invoice\r\nnext",    # CRLF: \r must strip
        "class: \t'Invoice'\t",      # tabs around quotes
        "İ\nclass: Invoice",     # 'İ' lowers to 2 chars — index shift
        "class:  Invoice ", # unicode NBSP whitespace
    ]
    assert [extract_class_from_text(t) for t in cases] == ["Invoice"] * 4
