"""Physical-plan audits: zero per-row Python, pushdown, broadcast, codegen.

The scale guarantees SURVEY.md §7 commits to:
- no BatchEvalPython (row-at-a-time Python UDF) anywhere — Python stages
  must be ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas;
- parquet scans prune columns (ReadSchema) and push filters;
- the small dimension side of evaluation joins is broadcast;
- relational operators land in WholeStageCodegen spans.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.config import eval_config_rows
from intelligent_document_processing_on_aws_spark.operators.classify import classify_and_section
from intelligent_document_processing_on_aws_spark.operators.evaluation import (
    evaluate_attributes,
    flatten_attributes,
)
from intelligent_document_processing_on_aws_spark.operators.extraction import extract_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _assert_no_row_python(df):
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_extraction_plan_vectorized(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    df = extract_pages(pages, salt_partitions=4)
    plan = _plan(df)
    # r6: the stage is Arrow-native (MapInArrow) — output columns are
    # built as Arrow arrays directly instead of through the pandas bridge
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    # column pruning: the unused `text` column must not be read
    formatted = _formatted(df)
    assert "text" not in formatted.split("ReadSchema:")[-1].split("\n")[0]


def test_sectioning_plan_no_python(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "packet_pages.parquet"))
    df = classify_and_section(pages)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan  # fully native: window + group only
    assert "Window" in plan


def test_evaluation_plan_broadcast_and_native(spark, fixtures_dir):
    expected = spark.read.parquet(os.path.join(fixtures_dir, "flat_expected.parquet"))
    actual = spark.read.parquet(os.path.join(fixtures_dir, "flat_actual.parquet"))
    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(expected, actual, cfg)
    plan = _plan(counted)
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # config dim is broadcast
    assert "levenshtein" in plan.lower()  # fuzzy is JVM-side


def test_flatten_is_arrow_batched(spark, fixtures_dir):
    attrs = spark.read.parquet(os.path.join(fixtures_dir, "golden_attributes.parquet"))
    df = flatten_attributes(attrs)
    plan = _plan(df)
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_filter_pushdown_to_scan(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "t2_pages.parquet"))
    df = pages.where(F.col("lang") == "en").select("url", "lang")
    formatted = _formatted(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in formatted


def test_round2_operator_plans_no_python(spark, fixtures_dir):
    """Round-2 operators keep the zero-per-row-Python contract: the
    evaluation report is pure Catalyst string expressions, confidence
    flattening is Arrow-batched MapInPandas — no BatchEvalPython anywhere."""
    from intelligent_document_processing_on_aws_spark.config import eval_config_rows
    from intelligent_document_processing_on_aws_spark.operators.evaluation import (
        evaluate_attributes,
        evaluation_report,
        flatten_confidence_payloads,
    )

    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(
        spark.read.parquet(os.path.join(fixtures_dir, "flat_expected.parquet")),
        spark.read.parquet(os.path.join(fixtures_dir, "flat_actual.parquet")),
        cfg,
    )
    plan = evaluation_report(counted)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    payloads = spark.read.parquet(
        os.path.join(fixtures_dir, "extraction_payloads.parquet"))
    plan = flatten_confidence_payloads(payloads)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_ocr_table_markdown_plan_vectorized(spark):
    """The blocks->markdown query is one Arrow-batched MapInPandas over the
    scan — no shuffle, no row-at-a-time Python."""
    from intelligent_document_processing_on_aws_spark.entry_queries import (
        q_ocr_table_markdown,
    )

    df = q_ocr_table_markdown(spark, "")
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # row-parallel: no shuffle at all


def test_warc_ingestion_plan_map_only(spark):
    """r5 WARC source: one Arrow MapInPandas directly over the binaryFile
    scan — zero Exchange, zero row-Python. At 100 TB the ingestion stage
    must scale exactly like the file listing (the file is the parallel
    unit for non-splittable gzip WARCs)."""
    from intelligent_document_processing_on_aws_spark.sources.warc import (
        read_warc,
    )

    df = read_warc(spark, "fixtures_data/warc")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
