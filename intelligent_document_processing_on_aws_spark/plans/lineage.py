"""Checkpoint + resume: per-partition lineage and idempotent re-runs.

Replaces the reference's DynamoDB classification cache + tracking tables
(classification/service.py:1455-1602, docs_service.py:30-120) with warehouse
tables and an anti-join:

- the output table is the source of truth for committed urls;
- `lineage` records per-partition counters (partition_id, n_rows, n_errors,
  min/max url) for each run — the observability/metering surface
  (save_reporting_data.py:1004-1125 analog);
- resume = input ANTI JOIN committed urls -> only unprocessed pages run;
  appends are atomic per run directory (locally parquet append; Iceberg
  snapshot commit in production — same semantics, stronger guarantees).

A killed run that committed K partitions re-runs only the remainder and
never duplicates a url (tests/test_lineage_resume.py kills mid-run).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extraction import extract_pages

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("min_url", T.StringType()),
        T.StructField("max_url", T.StringType()),
    ]
)


def partition_counters(result: DataFrame) -> DataFrame:
    """Per-partition row/error counters: one row per partition of
    ``result``, from a second mapInPandas pass over it (no shuffle)."""
    from pyspark import TaskContext

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        n_rows = n_err = 0
        mn = mx = None
        for pdf in batches:
            n_rows += len(pdf)
            if "error" in pdf.columns:
                n_err += int(pdf["error"].notna().sum())
            if len(pdf):
                lo, hi = pdf["url"].min(), pdf["url"].max()
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "n_rows": [n_rows],
                "n_errors": [n_err],
                "min_url": [mn],
                "max_url": [mx],
            }
        )

    return result.mapInPandas(run, LINEAGE_SCHEMA)


def committed_urls(spark: SparkSession, output_path: str) -> DataFrame | None:
    """urls already in the output table (None if no output yet)."""
    try:
        return spark.read.parquet(output_path).select("url")
    except Exception:  # noqa: BLE001 — path does not exist yet
        return None


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    lineage_path: str,
    salt_partitions: int = 32,
) -> dict:
    """Extract only not-yet-committed pages; append output + lineage.

    Returns {"processed": n, "skipped": n}.
    """
    done = committed_urls(spark, output_path)
    todo = pages
    n_total = pages.count()
    if done is not None:
        todo = pages.join(done, "url", "left_anti")
    n_todo = todo.count()
    if n_todo == 0:
        return {"processed": 0, "skipped": n_total}
    result = extract_pages(todo, salt_partitions=salt_partitions)
    result.persist()
    try:
        result.write.mode("append").parquet(output_path)
        # counters for THIS run's partitions ride the cached result — no
        # second extraction pass, no full rescan of the committed table
        # (Iceberg snapshot metadata provides this for free in production)
        partition_counters(result).withColumn(
            "run_rows", F.lit(n_todo)
        ).write.mode("append").parquet(lineage_path)
    finally:
        result.unpersist()
    return {"processed": n_todo, "skipped": n_total - n_todo}


def run_with_resume_snapshots(
    spark: SparkSession,
    pages: DataFrame,
    output_table: str,
    lineage_table: str,
    salt_partitions: int = 32,
) -> dict:
    """Snapshot-committed variant of :func:`run_with_resume` — the full
    north-star contract: output and per-partition lineage land as atomic
    snapshot commits (sources/snapshots.py), so a run killed mid-write
    leaves only invisible staging and the next invocation resumes from the
    last COMMITTED snapshot, never re-reading partial files and never
    duplicating a url.

    Returns {"processed": n, "skipped": n, "snapshot_id": id | None}.
    """
    from ..sources.snapshots import commit_snapshot, read_table

    done = read_table(spark, output_table)
    todo = pages
    n_total = pages.count()
    if done is not None:
        todo = pages.join(done.select("url"), "url", "left_anti")
    n_todo = todo.count()
    if n_todo == 0:
        return {"processed": 0, "skipped": n_total, "snapshot_id": None}
    result = extract_pages(todo, salt_partitions=salt_partitions)
    result.persist()
    try:
        # Output commits FIRST: a kill between the two commits can only
        # lose the lineage record, never duplicate data (the anti-join
        # keys on the output table). The lineage row carries the output
        # snapshot id, so a missing record is detectable (an output
        # snapshot id absent from lineage) and backfillable from the
        # output snapshot's own manifest counts — the same repair story
        # as Iceberg, which has no cross-table transactions either.
        snap_id = commit_snapshot(result, output_table, "append")
        commit_snapshot(
            partition_counters(result)
            .withColumn("run_rows", F.lit(n_todo))
            .withColumn("output_snapshot_id", F.lit(snap_id)),
            lineage_table,
            "append",
        )
    finally:
        result.unpersist()
    return {"processed": n_todo, "skipped": n_total - n_todo,
            "snapshot_id": snap_id}


def assert_no_duplicates(spark: SparkSession, output_path: str) -> int:
    out = spark.read.parquet(output_path)
    n = out.count()
    d = out.select("url").distinct().count()
    if n != d:
        raise AssertionError(f"duplicate urls in output: {n} rows, {d} distinct")
    return n
