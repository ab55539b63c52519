"""End-to-end document-processing pipeline job (the §3.2 notebook chain,
Spark-shaped):

pages -> classify+section -> attribute extraction -> assessment (confidence
alerts) -> summarization -> [optional evaluation vs expected] -> reporting
warehouse (per-class section tables, metrics, alerts, summaries) -> the
run's document status transitions, appended once at the end.

Prints a one-line JSON summary: the warehouse tables, the stage counts,
the latest status of every document, the job's seconds and jvm_jit_s
(the seconds the driver JVM's JIT compilers spent in the job).

Usage:
  python jobs/pipeline.py --pages fixtures_data/packet_pages.parquet \
      --warehouse /tmp/idp_warehouse \
      [--expected fixtures_data/flat_expected.parquet]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from intelligent_document_processing_on_aws_spark.config import eval_config_rows  # noqa: E402
from intelligent_document_processing_on_aws_spark.operators.assessment import (  # noqa: E402
    assess_attributes,
    threshold_alerts,
)
from intelligent_document_processing_on_aws_spark.operators.attributes import (  # noqa: E402
    extract_section_attributes,
)
from intelligent_document_processing_on_aws_spark.operators.classify import (  # noqa: E402
    classify_and_section,
)
from intelligent_document_processing_on_aws_spark.operators.evaluation import (  # noqa: E402
    evaluate_attributes,
    evaluation_report,
    flatten_attributes,
    metrics_rollup,
)
from intelligent_document_processing_on_aws_spark.operators.summarize import (  # noqa: E402
    format_document_summaries,
    summarize_sections,
)
from intelligent_document_processing_on_aws_spark.session import (  # noqa: E402
    cds_archive,
    get_spark,
    jit_seconds,
)
from intelligent_document_processing_on_aws_spark.sources.catalog import (  # noqa: E402
    list_warehouse_tables,
    write_document_sections,
    write_metrics_table,
)

# the date partition of the evaluation metric tables
REPORT_DATE = "2025-01-01"


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """df with a row count attached; the count is read from the returned
    observation once an action has run df's plan (no extra Spark job)."""
    rows = Observation()
    return df.observe(rows, F.count(F.lit(1)).alias("rows")), rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--expected", help="flattened expected attrs parquet (enables evaluation)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    t_start = time.time()
    spark = get_spark("idp-pipeline", master=args.master)
    t0, jit0 = time.time(), jit_seconds(spark)
    session_start_s = round(t0 - t_start, 2)
    wh = args.warehouse
    counts = {}

    from intelligent_document_processing_on_aws_spark.plans.status import (
        append_status,
        status_counts,
    )

    # Each stage's output is persisted and computed once, by the first
    # write that needs it; every count is observed on a write (or on a
    # persisted stage) instead of being read back. The statuses of the
    # whole run are one append at the end.
    persisted = []

    def persist(df: DataFrame) -> DataFrame:
        persisted.append(df.persist())
        return df

    pages = spark.read.parquet(args.pages)
    doc_ids = pages.select("doc_id")
    sections, n_sections = _observed(classify_and_section(pages))
    sections = persist(sections)
    attrs, n_attrs = _observed(extract_section_attributes(sections))
    attrs = persist(attrs)
    write_document_sections(attrs, wh)
    counts["sections"] = n_sections.get["rows"]
    counts["attributed_sections"] = n_attrs.get["rows"]

    cfg = spark.createDataFrame(eval_config_rows())
    flat_actual = persist(flatten_attributes(attrs))
    assessed = persist(assess_attributes(flat_actual, sections, cfg))
    alerts, n_alerts = _observed(threshold_alerts(assessed))
    alerts.write.mode("overwrite").parquet(os.path.join(wh, "confidence_alerts"))
    counts["alerts"] = n_alerts.get["rows"]

    section_summaries = persist(summarize_sections(sections))
    # reference-parity combined summary (markdown_formatter.py semantics:
    # duplicate-title removal, citation prefixing, TOC/anchors/navigation)
    summaries, n_summaries = _observed(format_document_summaries(section_summaries))
    summaries.write.mode("overwrite").parquet(os.path.join(wh, "document_summaries_md"))
    counts["summaries"] = n_summaries.get["rows"]

    transitions = [
        (doc_ids, "QUEUED"),
        (doc_ids, "CLASSIFYING"),
        (attrs, "EXTRACTING"),
        (assessed, "ASSESSING"),
        (section_summaries, "SUMMARIZING"),
    ]
    if args.expected:
        expected = spark.read.parquet(args.expected)
        counted = persist(evaluate_attributes(expected, flat_actual, cfg))
        write_metrics_table(
            metrics_rollup(counted, "classification").withColumn("date", F.lit(REPORT_DATE)),
            wh, "evaluation_metrics_by_class")
        # the overall rollup is one row: collect it once for the summary
        # and write the table from that row
        overall_df = metrics_rollup(counted)
        overall = overall_df.collect()[0]
        write_metrics_table(
            spark.createDataFrame([overall], overall_df.schema).withColumn(
                "date", F.lit(REPORT_DATE)),
            wh, "evaluation_metrics_overall")
        # the report's Confidence columns consume the UPSTREAM assessment
        # (the reference reads explainability_info from the stored result)
        reports, n_reports = _observed(evaluation_report(
            counted,
            assessed.select("doc_id", "section_id", "attr_path",
                            "confidence", "confidence_threshold"),
        ))
        reports.write.mode("overwrite").parquet(os.path.join(wh, "evaluation_reports"))
        counts["eval_reports"] = n_reports.get["rows"]
        counts["eval_f1"] = round(overall.f1_score, 4)
        counts["eval_accuracy"] = round(overall.accuracy, 4)
        transitions.append((counted, "EVALUATING"))

    # terminal status from the FINAL stage's actual output: a doc that
    # dropped out mid-pipeline (no attributed sections) must read FAILED,
    # not COMPLETED — this is what makes plans/status.py's
    # FAILED-outranks-COMPLETED window live in the shipped job
    finished_ids = attrs.select("doc_id")
    transitions += [
        (finished_ids, "COMPLETED"),
        (doc_ids.join(finished_ids, "doc_id", "left_anti"), "FAILED"),
    ]
    written = append_status(transitions, wh)
    counts["failed_docs"] = written["FAILED"]
    print(json.dumps({
        "warehouse_tables": list_warehouse_tables(spark, wh),
        "counts": counts,
        "status": status_counts(spark, wh),
        "sec": round(time.time() - t0, 2),
        "jvm_jit_s": round(jit_seconds(spark) - jit0, 2),
        "session_start_s": session_start_s,
        "cds_archive": cds_archive(spark),
    }))
    for df in persisted:
        df.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
