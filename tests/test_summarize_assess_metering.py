"""Summarization, assessment, metering, CSV convert."""

from __future__ import annotations

import json
import os

import pytest

from intelligent_document_processing_on_aws_spark.config import eval_config_rows
from intelligent_document_processing_on_aws_spark.kernels.csv_convert import (
    csv_to_markdown,
    sheets_to_markdown,
)
from intelligent_document_processing_on_aws_spark.operators.assessment import (
    assess_attributes,
    threshold_alerts,
)
from intelligent_document_processing_on_aws_spark.operators.metering import (
    explode_metering,
    merge_metering,
    with_costs,
)
from intelligent_document_processing_on_aws_spark.operators.summarize import (
    summarize_sections,
)


def test_csv_to_markdown_formats():
    csv_text = "Item,Qty,Price\nwidget,2,1234.5\ngadget,1000,0.25\n"
    md = csv_to_markdown(csv_text)
    lines = md.split("\n")
    assert lines[0] == "| Item | Qty | Price |"
    assert lines[2] == "| widget | 2 | 1,234.5 |"
    assert lines[3] == "| gadget | 1,000 | 0.25 |"


def test_csv_mixed_column_stays_string():
    md = csv_to_markdown("a,b\n1,x\n2,y\n")
    assert "| 1 | x |" in md


def test_sheets_markdown_headers_only_when_multi():
    one = sheets_to_markdown({"Sheet1": "a,b\n1,2\n"})
    assert "## Sheet1" not in one
    two = sheets_to_markdown({"S1": "a\n1\n", "S2": "b\n2\n"})
    assert "## S1" in two and "## S2" in two


def test_summarize_and_assemble(spark):
    rows = [
        (1, "1", "invoice", " ".join(f"w{i}" for i in range(50))),
        (1, "2", "webpage", "short text"),
        (2, "1", "bank_statement", " ".join(f"x{i}" for i in range(30))),
    ]
    secs = spark.createDataFrame(
        rows, "doc_id long, section_id string, classification string, section_text string"
    )
    summ = {(r.doc_id, r.section_id): r.summary
            for r in summarize_sections(secs).collect()}
    assert summ[(1, "1")] == " ".join(f"w{i}" for i in range(25))
    assert summ[(1, "2")] == "short text"


def test_assessment_confidence_tiers(spark):
    flat = spark.createDataFrame(
        [
            (1, "1", "invoice", "invoice_number", "INV-1"),     # verbatim
            (1, "1", "invoice", "vendor_name", "ACME CORP."),   # normalized only
            (1, "1", "invoice", "total", "99.99"),              # ungrounded
            (1, "1", "invoice", "date", None),                  # missing
        ],
        "doc_id long, section_id string, classification string, attr_path string, value string",
    )
    secs = spark.createDataFrame(
        [(1, "1", "INVOICE NO: INV-1\nVENDOR: acme corp\nTOTAL: $5.00")],
        "doc_id long, section_id string, section_text string",
    )
    cfg = spark.createDataFrame(eval_config_rows())
    assessed = {r.attr_path: r for r in
                assess_attributes(flat, secs, cfg).collect()}
    assert assessed["invoice_number"].confidence == 0.99
    assert assessed["vendor_name"].confidence == 0.7
    assert assessed["total"].confidence == 0.1
    assert assessed["date"].confidence == 0.0
    # alerts: total (0.1 < 0.8) and date (0.0 < 0.8), vendor 0.7 < 0.8 fuzzy thr
    alerts = threshold_alerts(assess_attributes(flat, secs, cfg)).collect()
    alert_paths = {r.attr_path for r in alerts}
    assert "total" in alert_paths and "date" in alert_paths
    assert "invoice_number" not in alert_paths


def test_assessment_on_fixtures(spark, fixtures_dir):
    flat = spark.read.parquet(os.path.join(fixtures_dir, "flat_actual.parquet"))
    secs = spark.read.parquet(os.path.join(fixtures_dir, "golden_sections.parquet"))
    cfg = spark.createDataFrame(eval_config_rows())
    assessed = assess_attributes(flat, secs, cfg)
    n = assessed.count()
    assert n == flat.count()
    # perturbed values must produce some alerts, and verbatim ones none
    counts = assessed.groupBy("alert").count().collect()
    d = {r.alert: r["count"] for r in counts}
    assert d.get(True, 0) > 0 and d.get(False, 0) > 0


def test_metering_merge_and_costs(spark):
    rows = [
        ("d1", json.dumps({"ocr": {"pages": 3}, "extract": {"tokens": "1200"}})),
        ("d2", json.dumps({"ocr": {"pages": 2}, "extract": {"tokens": 800, "requests": "bad"}})),
    ]
    df = spark.createDataFrame(rows, "document_id string, metering_json string")
    exploded = explode_metering(df)
    merged = {(r.service_api, r.unit): r for r in merge_metering(exploded).collect()}
    assert merged[("ocr", "pages")].value == 5.0
    assert merged[("extract", "tokens")].value == 2000.0
    assert merged[("extract", "requests")].value == 0.0  # str->float coercion failure -> 0
    assert merged[("ocr", "pages")].n_documents == 2

    pricing = spark.createDataFrame(
        [("ocr", "pages", 0.01), ("extract", "tokens", 0.000002)],
        "service_api string, unit string, unit_cost double",
    )
    costed = {(r.service_api, r.unit): r
              for r in with_costs(merge_metering(exploded), pricing).collect()}
    assert costed[("ocr", "pages")].estimated_cost == pytest.approx(0.05)
    assert costed[("extract", "requests")].estimated_cost == 0.0


# ---------------------------------------------------------------------------
# SummaryMarkdownFormatter parity kernel (markdown_formatter.py:15-418)
# ---------------------------------------------------------------------------


def test_summary_md_remove_existing_title():
    from intelligent_document_processing_on_aws_spark.kernels.summary_md import (
        remove_existing_title,
    )

    # section-name variation at any heading level is stripped
    assert remove_existing_title("## Bank Statement\nbody here",
                                 "bank_statement") == "body here"
    assert remove_existing_title("# bank_statement\nbody", "bank_statement") == "body"
    # LLM-style generic heading is stripped even when it matches no variation
    assert remove_existing_title("## Summary of Document\n\nbody",
                                 "invoice") == "body"
    # plain body untouched
    assert remove_existing_title("no heading here", "invoice") == "no heading here"
    # heading-only content degrades to empty
    assert remove_existing_title("## Invoice", "invoice") == ""


def test_summary_md_citation_rewrite():
    from intelligent_document_processing_on_aws_spark.kernels.summary_md import (
        process_citations,
    )

    raw = ("total due [[Cite-1, Page-3]](#cite-1-page-3)\n\nReferences\n"
           '[Cite-1, Page-3]: <a id="cite-1-page-3"></a> source doc')
    out = process_citations(raw, "Bank Statement")
    assert "[[Bank-Statement-Cite-1, Page-3]](#bank-statement-cite-1-page-3)" in out
    assert "References for Bank Statement" in out
    assert '[Bank-Statement-Cite-1, Page-3]: <a id="bank-statement-cite-1-page-3"></a>' in out
    # content without citations passes through untouched
    assert process_citations("plain", "X") == "plain"


def test_summary_md_toc_anchors_and_separators():
    from intelligent_document_processing_on_aws_spark.kernels.summary_md import (
        format_document_summary,
    )

    md = format_document_summary(
        [("1", "bank_statement", "alpha"), ("2", None, "beta")]
    )
    assert md.startswith("# Document Summary\n\n# Table of Contents\n")
    assert "1. [Bank Statement](#1-bank-statement)" in md
    assert "2. [Section 2](#2-section-2)" in md
    assert '## 1. Bank Statement <a id="1-bank-statement"></a>' in md
    assert "[Back to Top](#table-of-contents)" in md
    assert md.count("\n\n---\n\n") == 1  # separator between, not after last
    # include_toc=False: no TOC, no back-to-top
    md2 = format_document_summary([("1", "invoice", "x")], include_toc=False)
    assert "Table of Contents" not in md2 and "Back to Top" not in md2


def test_summary_operator_matches_golden(spark, fixtures_dir):
    import os

    from intelligent_document_processing_on_aws_spark.operators.summarize import (
        format_document_summaries,
    )

    secs = spark.read.parquet(os.path.join(fixtures_dir, "summary_sections.parquet"))
    golden = {r.doc_id: r.summary_markdown for r in spark.read.parquet(
        os.path.join(fixtures_dir, "golden_summary_markdown.parquet")).collect()}
    got = {r.doc_id: r.summary_markdown for r in
           format_document_summaries(secs, content_col="content").collect()}
    assert got == golden


def test_remove_title_leading_newline_quirk():
    """Faithful reference quirk (markdown_formatter.py:176-184): heading
    match tests content.lstrip() but the split runs on the ORIGINAL
    string, so a leading newline means only the blank line is consumed and
    the duplicate title survives to the generic-heading pass."""
    from intelligent_document_processing_on_aws_spark.kernels.summary_md import (
        remove_existing_title,
    )

    out = remove_existing_title("\n## Invoice\n## Other\nbody", "invoice")
    # first pass eats the blank line, generic pass eats '## Invoice',
    # '## Other' survives — byte-identical to the reference's behavior
    assert out == "## Other\nbody"
