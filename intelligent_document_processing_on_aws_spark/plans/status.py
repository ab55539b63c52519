"""Per-document status lifecycle: the tracking-service analog.

The reference tracks every document through a status enum (models.py:18-33
QUEUED -> RUNNING -> OCR -> CLASSIFYING -> EXTRACTING -> ASSESSING ->
POSTPROCESSING/HITL -> SUMMARIZING -> EVALUATING -> COMPLETED | FAILED)
persisted by the docs service to DynamoDB or AppSync
(docs_service.py:30-120). Here the store is a warehouse table of
append-only transitions (doc_id, status, seq). A run records all of its
transitions in one append at the end — each stage contributes the ids it
finished — and the latest status per document is a window over the
monotone stage sequence (FAILED sorts above COMPLETED so a failure is
never masked). Transitions are id-projections only: at 100 TB the write
is a column-pruned scan of ids, no payload bytes.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

STATUS_ORDER = (
    "QUEUED", "RUNNING", "OCR", "CLASSIFYING", "EXTRACTING", "ASSESSING",
    "POSTPROCESSING", "HITL_IN_PROGRESS", "SUMMARIZING", "EVALUATING",
    "COMPLETED", "FAILED",
)
_SEQ = {s: i for i, s in enumerate(STATUS_ORDER)}

STATUS_TABLE = "document_status"


def append_status(
    transitions: list[tuple[DataFrame, str]], warehouse: str,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Record a run's transitions, one row per distinct (id, status), as a
    single append (docs_service update analog). Every status is checked
    before anything is written. Returns the rows written per status, taken
    from an observation on that write."""
    for _, status in transitions:
        if status not in _SEQ:
            raise ValueError(f"unknown status: {status}")
    rows = reduce(DataFrame.unionAll, (
        ids.select(F.col(id_col).alias("doc_id"),
                   F.lit(status).alias("status"), F.lit(_SEQ[status]).alias("seq"))
        for ids, status in transitions
    )).distinct()
    written = Observation()
    statuses = sorted({status for _, status in transitions}, key=_SEQ.get)
    rows.observe(written, *[F.count_if(F.col("status") == s).alias(s) for s in statuses]) \
        .write.mode("append").parquet(os.path.join(warehouse, STATUS_TABLE))
    return dict(written.get)


def latest_status_df(transitions: DataFrame) -> DataFrame:
    """(doc_id, status) at the furthest recorded stage of a transitions
    relation (doc_id, status, seq) — the docs-service current-status read."""
    w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
    return (
        transitions.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "status")
    )


def latest_status(spark: SparkSession, warehouse: str) -> DataFrame:
    """(doc_id, status) at the document's furthest recorded stage."""
    return latest_status_df(
        spark.read.parquet(os.path.join(warehouse, STATUS_TABLE))
    )


def status_counts(spark: SparkSession, warehouse: str) -> dict[str, int]:
    """Batch-progress rollup over latest statuses (the reference's console
    status counts)."""
    rows = latest_status(spark, warehouse).groupBy("status").count().collect()
    return {r.status: r["count"] for r in rows}
