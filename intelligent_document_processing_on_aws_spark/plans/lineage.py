"""Checkpoint + resume: per-file lineage and idempotent re-runs.

Replaces the reference's DynamoDB classification cache + tracking tables
(classification/service.py:1455-1602, docs_service.py:30-120) with warehouse
tables and an anti-join:

- the output table is the source of truth for committed urls;
- `lineage` records one row per written output file (partition_id, n_rows,
  n_errors, min/max url) for each run — the observability/metering surface
  (save_reporting_data.py:1004-1125 analog), read from the output
  snapshot's manifest the way Iceberg serves data-file metrics and
  written by the driver with pyarrow, so it costs no Spark job;
- resume = input ANTI JOIN committed urls -> only unprocessed pages run;
  output and lineage land as atomic snapshot commits (sources/snapshots.py;
  Iceberg snapshot commits in production). A run into an empty output
  table has nothing to anti-join or count: its only Spark work is the
  extraction write.

A killed run re-runs only the urls no committed snapshot holds and never
duplicates a url (tests/test_snapshots.py kills mid-run).
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..operators.extraction import extract_pages
from ..sources import snapshots

# the Spark types int / bigint / string on read
LINEAGE_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("n_rows", pa.int64()),
    ("n_errors", pa.int64()),
    ("min_url", pa.string()),
    ("max_url", pa.string()),
    ("run_rows", pa.int64()),
    ("output_snapshot_id", pa.int32()),
])

# Spark names each data file after the writer task's partition
_PART = re.compile(r"part-(\d+)")


def lineage_rows(file_stats: list[dict], run_rows: int, snapshot_id: int) -> pa.Table:
    """One lineage row per data file an output snapshot added, from the
    manifest's footer stats: the ``part-NNNNN`` writer partition, rows,
    error rows (rows with a non-null ``error``) and the url range."""
    rows = []
    for st in file_stats:
        url, error = st["columns"]["url"], st["columns"]["error"]
        rows.append({
            "partition_id": int(_PART.search(os.path.basename(st["path"])).group(1)),
            "n_rows": st["record_count"],
            "n_errors": None if error["null_count"] is None
            else st["record_count"] - error["null_count"],
            "min_url": url["lower_bound"],
            "max_url": url["upper_bound"],
            "run_rows": run_rows,
            "output_snapshot_id": snapshot_id,
        })
    return pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA)


def run_with_resume_snapshots(
    spark: SparkSession,
    pages: DataFrame,
    output_table: str,
    lineage_table: str,
    salt_partitions: int | None = None,
) -> dict:
    """Extract only not-yet-committed pages in one Python pass; commit the
    output, then its per-file lineage, as atomic snapshots
    (sources/snapshots.py). A run killed mid-write leaves only invisible
    staging, so the next invocation resumes from the last COMMITTED
    snapshot, never re-reading partial files and never duplicating a url.

    salt_partitions is the url-hash salt's partition count, by default
    the session's shuffle partitions (see :func:`extract_pages`). Into an
    empty output table every page runs, uncounted: ``processed`` is the
    committed snapshot's record count (one output row per input page,
    error rows included). Into a committed table, the input and the
    anti-join are counted first, and a run with nothing left commits
    nothing. The lineage rows come from
    the output snapshot's manifest (parquet footer stats) and the driver
    writes them with pyarrow, so they cost no Spark job.

    Returns {"processed": n, "skipped": n, "snapshot_id": id | None}.
    """
    done = snapshots.read_table(spark, output_table)
    todo, n_skipped = pages, 0
    if done is not None:
        n_total = pages.count()
        todo = pages.join(done.select("url"), "url", "left_anti")
        n_todo = todo.count()
        if n_todo == 0:
            return {"processed": 0, "skipped": n_total, "snapshot_id": None}
        n_skipped = n_total - n_todo
    # Output commits FIRST: a kill between the two commits can only lose
    # the lineage record, never duplicate data (the anti-join keys on the
    # output table). The lineage rows carry the output snapshot id, so a
    # missing record is detectable (an output snapshot id absent from
    # lineage) and backfillable from that snapshot's manifest — the same
    # repair story as Iceberg, which has no cross-table transactions
    # either.
    snap_id = snapshots.commit_snapshot(
        extract_pages(todo, salt_partitions=salt_partitions), output_table, "append")
    stats = snapshots.added_file_stats(output_table, snap_id)
    processed = sum(st["record_count"] for st in stats)
    snapshots.commit_snapshot(lineage_rows(stats, processed, snap_id),
                              lineage_table, "append")
    return {"processed": processed, "skipped": n_skipped, "snapshot_id": snap_id}
