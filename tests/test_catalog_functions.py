"""Reporting sinks (catalog), the comparator Columns and the scalar
kernels of kernels/textnorm."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
    strip_punctuation_space,
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


def test_write_document_sections_dynamic_tables(spark, fixtures_dir, tmp_path):
    wh = str(tmp_path / "wh")
    attrs = spark.read.parquet(os.path.join(fixtures_dir, "golden_attributes.parquet"))
    written = write_document_sections(attrs, wh)
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
        [(1, 0.9, "2025-03-04"), (2, 0.8, "2025-03-05")],
        "doc_id long, f1 double, date string",
    )
    write_metrics_table(df, wh, "metrics")
    out = spark.read.parquet(os.path.join(wh, "metrics"))
    # hive partition inference types the dir value as DATE
    assert set(str(r.date) for r in out.select("date").collect()) == {"2025-03-04", "2025-03-05"}
    # partition dirs exist on disk (hive layout)
    assert os.path.isdir(os.path.join(wh, "metrics", "date=2025-03-04"))
