"""Attribute extraction vs golden attribute JSON."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.config import extract_attributes
from intelligent_document_processing_on_aws_spark.operators.attributes import (
    attribute_schema,
    extract_section_attributes,
)
from intelligent_document_processing_on_aws_spark.operators.classify import classify_and_section


def test_attributes_match_golden(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "packet_pages.parquet"))
    golden = spark.read.parquet(os.path.join(fixtures_dir, "golden_attributes.parquet"))
    sections = classify_and_section(pages)
    result = extract_section_attributes(sections)
    j = result.alias("r").join(golden.alias("g"), ["doc_id", "section_id"], "full_outer")
    bad = j.where(~F.col("r.attributes_json").eqNullSafe(F.col("g.attributes_json")))
    n_bad = bad.count()
    if n_bad:
        for row in bad.limit(3).collect():
            print(row.doc_id, row.asDict().get("section_id"))
    assert n_bad == 0


def test_extract_attributes_kernel():
    text = (
        "BEGIN DOCUMENT\nACCOUNT NO: 1234567890\n"
        "STATEMENT PERIOD: January 1 to January 28 2025\n"
        "STREET NUMBER: 42\nSTREET NAME: Garden Street\nCITY: Rivertown\n"
        "STATE: IL\nZIP: 60601\n"
        "TXN 2025-01-05 | coffee shop | 4.50\n"
        "TXN 2025-01-07 | book store | 23.99\nfiller words"
    )
    attrs = extract_attributes("bank_statement", text)
    assert attrs["Account Number"] == "1234567890"
    assert attrs["Account Holder Address"]["ZIP"] == "60601"
    assert attrs["Transactions"] == [
        {"Date": "2025-01-05", "Description": "coffee shop", "Amount": "4.50"},
        {"Date": "2025-01-07", "Description": "book store", "Amount": "23.99"},
    ]


def test_missing_attribute_is_none():
    attrs = extract_attributes("invoice", "INVOICE NO: INV-1\nTOTAL: $5.00\nVENDOR: Acme")
    assert attrs["date"] is None
    assert attrs["invoice_number"] == "INV-1"


def test_empty_attribute_class_skips():
    # no configured attributes => {} (extraction/service.py:1058-1102 parity)
    assert extract_attributes("unknown_class", "whatever") == {}
    assert extract_attributes("only", "x", {"only": {"attributes": []}}) == {}


def test_from_json_structured_roundtrip(spark, fixtures_dir):
    """attributes_json parses into the per-class StructType (nested
    group/list shape) — the schema-system parity check."""
    golden = spark.read.parquet(os.path.join(fixtures_dir, "golden_attributes.parquet"))
    bank = golden.where(F.col("classification") == "bank_statement")
    schema = attribute_schema("bank_statement")
    parsed = bank.select(
        "doc_id", "section_id",
        F.from_json("attributes_json", schema).alias("attrs"),
    )
    row = parsed.where(F.size("attrs.Transactions") >= 2).first()
    assert row is not None
    assert row.attrs["Account Number"] is not None
    assert row.attrs["Account Holder Address"]["City"] is not None
    assert row.attrs.Transactions[0].Amount is not None
    # count parity: no nulls from parse failures
    assert parsed.where(F.col("attrs").isNull()).count() == 0
