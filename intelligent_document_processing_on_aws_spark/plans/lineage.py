"""Checkpoint + resume: per-file lineage and idempotent re-runs.

Replaces the reference's DynamoDB classification cache + tracking tables
(classification/service.py:1455-1602, docs_service.py:30-120) with warehouse
tables and an anti-join:

- the output table is the source of truth for committed urls;
- `lineage` records one row per written output file (partition_id, n_rows,
  n_errors, min/max url) for each run — the observability/metering surface
  (save_reporting_data.py:1004-1125 analog), read from the output
  snapshot's manifest the way Iceberg serves data-file metrics;
- resume = input ANTI JOIN committed urls -> only unprocessed pages run;
  output and lineage land as atomic snapshot commits (sources/snapshots.py;
  Iceberg snapshot commits in production).

A killed run re-runs only the urls no committed snapshot holds and never
duplicates a url (tests/test_snapshots.py kills mid-run).
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.extraction import extract_pages

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("min_url", T.StringType()),
        T.StructField("max_url", T.StringType()),
        T.StructField("run_rows", T.LongType()),
        T.StructField("output_snapshot_id", T.IntegerType()),
    ]
)

# Spark names each data file after the writer task's partition
_PART = re.compile(r"part-(\d+)")


def lineage_rows(file_stats: list[dict], run_rows: int, snapshot_id: int) -> pd.DataFrame:
    """One lineage row per data file an output snapshot added, from the
    manifest's footer stats: the ``part-NNNNN`` writer partition, rows,
    error rows (rows with a non-null ``error``) and the url range."""
    rows = []
    for st in file_stats:
        url, error = st["columns"]["url"], st["columns"]["error"]
        rows.append((
            int(_PART.search(os.path.basename(st["path"])).group(1)),
            st["record_count"],
            None if error["null_count"] is None
            else st["record_count"] - error["null_count"],
            url["lower_bound"],
            url["upper_bound"],
            run_rows,
            snapshot_id,
        ))
    return pd.DataFrame(rows, columns=LINEAGE_SCHEMA.names)


def run_with_resume_snapshots(
    spark: SparkSession,
    pages: DataFrame,
    output_table: str,
    lineage_table: str,
    salt_partitions: int,
) -> dict:
    """Extract only not-yet-committed pages in one Python pass; commit the
    output, then its per-file lineage, as atomic snapshots
    (sources/snapshots.py). A run killed mid-write leaves only invisible
    staging, so the next invocation resumes from the last COMMITTED
    snapshot, never re-reading partial files and never duplicating a url.

    salt_partitions is the url-hash salt's partition count (see
    :func:`extract_pages`). The lineage rows come from the output
    snapshot's manifest (parquet footer stats), so they cost no second
    pass over the result.

    Returns {"processed": n, "skipped": n, "snapshot_id": id | None}.
    """
    from ..sources.snapshots import added_file_stats, commit_snapshot, read_table

    done = read_table(spark, output_table)
    n_total = n_todo = pages.count()
    todo = pages
    if done is not None:
        todo = pages.join(done.select("url"), "url", "left_anti")
        n_todo = todo.count()
    if n_todo == 0:
        return {"processed": 0, "skipped": n_total, "snapshot_id": None}
    # Output commits FIRST: a kill between the two commits can only lose
    # the lineage record, never duplicate data (the anti-join keys on the
    # output table). The lineage rows carry the output snapshot id, so a
    # missing record is detectable (an output snapshot id absent from
    # lineage) and backfillable from that snapshot's manifest — the same
    # repair story as Iceberg, which has no cross-table transactions
    # either.
    snap_id = commit_snapshot(
        extract_pages(todo, salt_partitions=salt_partitions), output_table, "append")
    rows = lineage_rows(added_file_stats(output_table, snap_id), n_todo, snap_id)
    # a run's few lineage rows go to one file, not one per core
    commit_snapshot(spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1),
                    lineage_table, "append")
    return {"processed": n_todo, "skipped": n_total - n_todo,
            "snapshot_id": snap_id}


def assert_no_duplicates(spark: SparkSession, output_table: str) -> int:
    """Rows in the committed output snapshot; raises if a url repeats."""
    from ..sources.snapshots import read_table

    out = read_table(spark, output_table)
    n = out.count()
    d = out.select("url").distinct().count()
    if n != d:
        raise AssertionError(f"duplicate urls in output: {n} rows, {d} distinct")
    return n
