"""Snapshot-committed tables: Iceberg-semantics stand-in over parquet dirs.

The reference writes its reporting layer to Iceberg tables, whose core
guarantees are (public Iceberg spec / HadoopTables layout): atomic snapshot
commits via a version pointer, readers always seeing the last committed
snapshot, time travel by snapshot id, and append/overwrite operations
recorded in manifests. No Iceberg jar ships with this package, so
sources/catalog.py documents plain parquet as the stand-in; this module
closes the semantic gap with a from-scratch mini commit protocol:

    table_dir/
      snap-00000001/data/*.parquet      immutable data written per commit
      snap-00000001/manifest.json       snapshot metadata + readable file set
      commits/v00000001                 version marker: a committed snapshot id

- ``commit_snapshot`` stages data + manifest first; the commit's
  linearization point is an exclusively created version marker
  (``commits/v<N+1>``, Iceberg's ``vN.metadata.json`` analog): exactly one
  writer per version can win, so two concurrent appenders can never both
  commit against the same parent — the loser gets CommitConflictError and
  its staged snapshot stays invisible. The committed snapshot is the one
  the highest readable marker names. A marker is hard-linked from a temp
  file that already holds its snapshot id, so it is never seen empty; a
  crashed writer before the claim leaves only a dangling snap dir no
  reader ever sees (snapshot isolation).
- ``append`` manifests carry the parent's file set plus the new files;
  ``overwrite`` starts a fresh set — so every manifest is self-contained
  and a read needs exactly one manifest (like Iceberg's manifest lists).
- ``read_table(snapshot_id=...)`` is time travel; ``rollback_to`` re-points
  without deleting newer snapshots (Iceberg ``rollback_to_snapshot``).
- ``snapshot_history`` is the ``table.snapshots()`` metadata-table analog.
- Each manifest records its added files' metrics, read from the parquet
  footers the commit just wrote (Iceberg's data-file ``record_count``,
  ``null_value_counts`` and ``lower_bounds``/``upper_bounds``), and a
  summary with ``added_records``/``total_records``: row counts and
  per-file lineage come from metadata, with no Spark job.

On a real deployment the same call sites swap to ``df.writeTo(tbl)`` with an
Iceberg catalog; this keeps kill/resume tests honest locally. File listings
live in the manifest (never re-globbed), so reads stay O(1) metadata ops
even as the table accretes snapshots — the property that makes the layout
viable for the 100-TB metrics/lineage tables.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class CommitConflictError(RuntimeError):
    """Another writer committed between this commit's parent read and its
    version-marker claim (Iceberg's CommitFailedException analog). The staged
    snapshot was abandoned (left dangling, invisible); callers retry the
    whole commit to pick up the new parent."""


COMMITS_DIR = "commits"


def _snap_dir(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(table_dir, f"snap-{snapshot_id:08d}")


def _latest_version(table_dir: str) -> int:
    """Highest claimed commit-marker version (0 = no commits yet)."""
    d = os.path.join(table_dir, COMMITS_DIR)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return 0
    return max(
        (int(n[1:]) for n in names if n.startswith("v") and n[1:].isdigit()),
        default=0,
    )


def _marker_snapshot(table_dir: str, version: int) -> int | None:
    try:
        with open(os.path.join(table_dir, COMMITS_DIR, f"v{version:08d}"),
                  encoding="utf-8") as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _claim_version(table_dir: str, version: int, snapshot_id: int) -> None:
    """The commit's linearization point: exactly one writer can own each
    version, and the marker appears with its snapshot id already in it.
    The id goes to a temp file that _latest_version ignores, which is
    then hard-linked to the marker name (FileExistsError: taken)."""
    d = os.path.join(table_dir, COMMITS_DIR)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=".claim-", dir=d)
    try:
        with os.fdopen(fd, "w", encoding="ascii") as fh:
            fh.write(str(snapshot_id))
        os.link(tmp, os.path.join(d, f"v{version:08d}"))
    finally:
        os.unlink(tmp)


def current_snapshot_id(table_dir: str) -> int | None:
    """The committed snapshot id, or None for an empty/uncreated table:
    the snapshot the highest readable commit marker names. A marker that
    is empty or unparsable (a table committed before markers were linked
    whole can hold one from a crashed writer) is walked past, so the table
    reads the commit before it. Dangling snap dirs without a marker are
    invisible by design."""
    for version in range(_latest_version(table_dir), 0, -1):
        snap = _marker_snapshot(table_dir, version)
        if snap is not None:
            return snap
    return None


def _read_manifest(table_dir: str, snapshot_id: int) -> dict:
    with open(os.path.join(_snap_dir(table_dir, snapshot_id), "manifest.json"),
              encoding="utf-8") as fh:
        return json.load(fh)


def _bound(value):
    """A footer min/max as a JSON value; types JSON cannot hold (bytes,
    timestamps, decimals) stay unknown."""
    return value if isinstance(value, (str, int, float, bool)) else None


def _file_stats(path: str) -> dict:
    """One data file's metrics from its parquet footer alone: the record
    count and, per top-level primitive column, the null count and the
    lower/upper bounds over all row groups. A bound is None (unknown)
    when any row group holding non-null values has no min/max — e.g.
    parquet-mr drops binary stats above 4 KB."""
    md = pq.read_metadata(path)
    columns: dict[str, dict] = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.path != col.name:  # a leaf of a nested column
            continue
        nulls, lo, hi, known = 0, None, None, True
        for g in range(md.num_row_groups):
            chunk = md.row_group(g).column(i)
            st = chunk.statistics
            if st is None or not st.has_null_count:
                nulls = None
                known = False
                continue
            if nulls is not None:
                nulls += st.null_count
            if st.null_count == chunk.num_values:  # all nulls: no bounds
                continue
            if not st.has_min_max:
                known = False
                continue
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
        columns[col.name] = {
            "null_count": nulls,
            "lower_bound": _bound(lo) if known else None,
            "upper_bound": _bound(hi) if known else None,
        }
    return {"record_count": md.num_rows, "columns": columns}


def _file_entries(table_dir: str, files: list[str]) -> list[dict]:
    return [{"path": f, **_file_stats(os.path.join(table_dir, f))} for f in files]


def _total_records(table_dir: str, manifest: dict) -> int:
    """A snapshot's live row count: its summary, or for a manifest written
    before summaries existed, the sum of its files' footer row counts."""
    total = manifest.get("summary", {}).get("total_records")
    if total is None:
        total = sum(pq.read_metadata(os.path.join(table_dir, f)).num_rows
                    for f in manifest["files"])
    return total


def total_records(table_dir: str, snapshot_id: int | None = None) -> int:
    """Rows in the committed (or ``snapshot_id``) snapshot, from metadata
    alone; 0 for an empty table."""
    snap = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    if snap is None:
        return 0
    return _total_records(table_dir, _read_manifest(table_dir, snap))


def added_file_stats(table_dir: str, snapshot_id: int) -> list[dict]:
    """The files ``snapshot_id`` added, each ``{"path", "record_count",
    "columns"}`` as :func:`_file_stats` gives it; read from the footers
    for a manifest written before stats existed."""
    manifest = _read_manifest(table_dir, snapshot_id)
    stats = manifest.get("added_file_stats")
    if stats is None:
        added = manifest["files"][len(manifest["files"]) - manifest["added_files"]:]
        stats = _file_entries(table_dir, added)
    return stats


def commit_snapshot(
    df: DataFrame | pa.Table,
    table_dir: str,
    operation: str = "append",
) -> int:
    """Write ``df`` as a new committed snapshot; returns the snapshot id.

    A Spark DataFrame is written by a Spark job; a ``pyarrow.Table`` (a
    few driver-side rows) is written by the driver as one
    ``part-00000.parquet``, with no Spark job.

    operation: 'append' (new snapshot reads parent files + these) or
    'overwrite' (new snapshot reads only these). The version-marker claim
    is the single atomic step; everything before it is invisible staging.
    """
    if operation not in ("append", "overwrite"):
        raise ValueError(f"unknown operation: {operation}")
    os.makedirs(table_dir, exist_ok=True)
    parent = current_snapshot_id(table_dir)
    parent_version = _latest_version(table_dir)
    # Claim the snap dir with an atomic mkdir, retrying upward: ids must
    # outrun every existing snap dir (committed, dangling, or
    # rolled-back-past) so a commit after rollback_to never clobbers the
    # newer snapshots it re-pointed away from, and two concurrent writers
    # can never stage into (or overwrite) the same directory.
    existing = [
        int(d.split("-", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("snap-") and d.split("-", 1)[1].isdigit()
    ]
    snap_id = max(existing, default=0)
    while True:
        snap_id += 1
        snap = _snap_dir(table_dir, snap_id)
        try:
            os.mkdir(snap)
            break
        except FileExistsError:
            continue
    data_dir = os.path.join(snap, "data")
    if isinstance(df, pa.Table):
        os.mkdir(data_dir)
        pq.write_table(df, os.path.join(data_dir, "part-00000.parquet"))
    else:
        df.write.mode("overwrite").parquet(data_dir)

    new_files = sorted(
        os.path.join(f"snap-{snap_id:08d}", "data", f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    stats = _file_entries(table_dir, new_files)
    added_records = sum(st["record_count"] for st in stats)
    files, total = list(new_files), added_records
    if operation == "append" and parent is not None:
        parent_manifest = _read_manifest(table_dir, parent)
        files = parent_manifest["files"] + files
        total += _total_records(table_dir, parent_manifest)
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": operation,
        "committed_at_ms": int(time.time() * 1000),
        "added_files": len(new_files),
        "files": files,
        "added_file_stats": stats,
        "summary": {"added_records": added_records, "total_records": total},
    }
    with open(os.path.join(snap, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True)

    # Optimistic-concurrency commit (Iceberg CommitFailedException analog),
    # NO check-then-replace window: the exclusive marker link below is the
    # single linearization point. Any writer that committed since we read
    # `parent` owns version parent_version+1, so our claim fails and the
    # staged snapshot is abandoned (invisible); an append manifest built
    # from a stale parent can therefore never be published — silent lost
    # updates are structurally impossible, not just unlikely.
    if current_snapshot_id(table_dir) != parent:
        raise CommitConflictError(
            f"concurrent commit detected on {table_dir}: parent moved from "
            f"{parent} to {current_snapshot_id(table_dir)}; retry the commit"
        )
    try:
        _claim_version(table_dir, parent_version + 1, snap_id)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit detected on {table_dir}: version "
            f"{parent_version + 1} already claimed; retry the commit"
        ) from None
    return snap_id


def read_table(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
) -> DataFrame | None:
    """Read the committed snapshot (or time-travel to ``snapshot_id``).
    Returns None for an empty table. Only manifest-listed files are read —
    a concurrent in-flight commit can never leak rows into this scan."""
    snap = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    if snap is None:
        return None
    try:
        manifest = _read_manifest(table_dir, snap)
    except FileNotFoundError:
        raise ValueError(f"snapshot {snap} was never committed") from None
    paths = [os.path.join(table_dir, f) for f in manifest["files"]]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def snapshot_history(table_dir: str) -> list[dict]:
    """All COMMITTED snapshots oldest-first (``table.snapshots()`` analog):
    walk parent pointers from the current snapshot; dangling snaps
    excluded."""
    out: list[dict] = []
    snap = current_snapshot_id(table_dir)
    while snap is not None:
        m = _read_manifest(table_dir, snap)
        out.append({k: m[k] for k in
                    ("snapshot_id", "parent_id", "operation",
                     "committed_at_ms", "added_files")})
        snap = m["parent_id"]
    return list(reversed(out))


def rollback_to(table_dir: str, snapshot_id: int) -> None:
    """Re-point the table at an earlier snapshot (rollback_to_snapshot
    analog). Newer snapshots stay on disk and remain time-travel-readable.
    Only a COMMITTED snapshot (data + manifest fully staged) is a valid
    target — a dangling dir from a crashed writer is rejected, preserving
    the crashed-commits-are-invisible invariant."""
    if not os.path.isfile(
        os.path.join(_snap_dir(table_dir, snapshot_id), "manifest.json")
    ):
        raise ValueError(f"snapshot {snapshot_id} was never committed")
    # a rollback is itself a version claim: the new marker records the
    # re-pointed snapshot, and the highest marker is the current snapshot
    version = _latest_version(table_dir)
    while True:
        version += 1
        try:
            _claim_version(table_dir, version, snapshot_id)
            break
        except FileExistsError:
            continue
