"""Reporting sinks (catalog) + scalar Column library."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.functions import (
    normalize_boolean,
    parse_uri,
    pipe_escape,
)
from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
    normalize_boolean_value,
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
        normalize_boolean(F.col("v")).alias("b"),
    ).collect()
    for r in rows:
        assert r.s == strip_punctuation_space(r.v)
        assert r.b == normalize_boolean_value(r.v)
    byv = {r.v: r for r in rows}
    assert byv["$1,234.50"].n == 1234.50
    assert byv["(99)"].n == 99.0
    assert byv["A, B!"].n is None


def test_parse_uri_and_pipe_escape(spark):
    df = spark.createDataFrame(
        [("s3://bucket-x/a/b/c.json", "a|b")], "u string, t string"
    )
    r = df.select(parse_uri(F.col("u")).alias("p"), pipe_escape(F.col("t")).alias("e")).first()
    assert r.p.scheme == "s3" and r.p.bucket == "bucket-x" and r.p.key == "a/b/c.json"
    assert r.e == "a\\|b"


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


def test_feature_combination_suffix_all_combos(spark):
    """Exhaustive 16-combination parity: the native Column expression equals
    the pure kernel for every subset of {TABLES, FORMS, LAYOUT, SIGNATURES}
    (reference ocr/service.py:500-536 billing rules)."""
    from itertools import combinations

    from intelligent_document_processing_on_aws_spark.functions.scalars import (
        feature_combination_suffix as col_fn,
    )
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
        feature_combination_suffix as py_fn,
    )

    feats = ["TABLES", "FORMS", "LAYOUT", "SIGNATURES"]
    rows = [(i, list(c)) for i, c in enumerate(
        sum([list(combinations(feats, k)) for k in range(5)], [])
    )] + [(99, None)]
    df = spark.createDataFrame(rows, "id long, features array<string>")
    got = {r.id: r.suffix for r in
           df.select("id", col_fn(F.col("features")).alias("suffix")).collect()}
    for i, c in rows:
        assert got[i] == py_fn(c), (c, got[i])
    # spot semantics: signatures free with tables; layout free with forms
    assert py_fn(["TABLES", "SIGNATURES"]) == "-Tables"
    assert py_fn(["FORMS", "LAYOUT"]) == "-Forms"
    assert py_fn(["SIGNATURES"]) == "-Signatures"


def test_token_limit_warning_parity(spark):
    """chars/4 estimate semantics of utils check_token_limit: warning iff
    configured budget < estimate; no budget -> always None; native Column
    twin agrees with the pure kernel."""
    from intelligent_document_processing_on_aws_spark.functions.scalars import (
        token_limit_warning_col,
    )
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
        token_limit_warning,
    )

    text, results = "x" * 300, "y" * 100  # estimate = 100 tokens
    assert token_limit_warning(text, results, 99) is not None
    assert token_limit_warning(text, results, 100) is None  # 100 < 100 false
    assert token_limit_warning(text, results, None) is None
    assert token_limit_warning("", "", 1) is None

    df = spark.createDataFrame([(text, results)], "t string, r string")
    for budget, want in ((99, True), (100, False)):
        got = df.select(
            token_limit_warning_col(F.col("t"), F.col("r"), budget).alias("w")
        ).collect()[0].w
        assert (got is not None) == want
        if want:
            assert got == token_limit_warning(text, results, budget)


def test_extract_class_from_text_parity(spark):
    """Fixed pattern order, case preservation, quote strip, EOL slicing —
    native twin equals the pure kernel on every shape
    (classification/service.py:1432-1453)."""
    from intelligent_document_processing_on_aws_spark.functions.scalars import (
        extract_class_from_text_col,
    )
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
        extract_class_from_text,
    )

    cases = [
        "Class: Invoice\nrest",            # case-insensitive find, case kept
        'classification: "bank_statement"',
        "The document type: W2 Form",
        "document class: Receipt",          # 'class: ' substring hit wins
        "type: 'letter'",
        "no label here",
        "TYPE: loud\nquiet",
        "class:missing-space",              # no trailing space -> no match...
        "prefix\nclass: tail value  ",
    ]
    expected = [extract_class_from_text(t) for t in cases]
    assert expected[0] == "Invoice"
    assert expected[1] == "bank_statement"
    assert expected[3] == "Receipt"
    assert expected[5] == ""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "id long, t string")
    got = {r.id: r.v for r in
           df.select("id", extract_class_from_text_col(F.col("t")).alias("v")).collect()}
    for i, want in enumerate(expected):
        assert got[i] == want, (cases[i], got[i], want)


def test_extract_class_from_text_whitespace_and_unicode(spark):
    """Regression inputs from review: CRLF values, tab-wrapped quotes, and
    a length-changing lowercase char must agree between twins and be clean."""
    from intelligent_document_processing_on_aws_spark.functions.scalars import (
        extract_class_from_text_col,
    )
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
        extract_class_from_text,
    )

    cases = [
        "class: Invoice\r\nnext",    # CRLF: \r must strip
        "class: \t'Invoice'\t",      # tabs around quotes
        "İ\nclass: Invoice",     # 'İ' lowers to 2 chars — index shift
        "class:  Invoice ", # unicode NBSP whitespace
    ]
    expected = [extract_class_from_text(t) for t in cases]
    assert expected == ["Invoice"] * 4
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "id long, t string")
    got = {r.id: r.v for r in
           df.select("id", extract_class_from_text_col(F.col("t")).alias("v")).collect()}
    for i, want in enumerate(expected):
        assert got[i] == want, (cases[i], got[i], want)
