"""Snapshot-commit protocol: isolation, time travel, rollback, crash safety.

The Iceberg-semantics stand-in (sources/snapshots.py) must give readers the
guarantees the reference gets from its Iceberg reporting tables: atomic
commits, invisibility of in-flight/crashed writes, time travel, and
append/overwrite manifests.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from intelligent_document_processing_on_aws_spark.sources.snapshots import (
    added_file_stats,
    commit_snapshot,
    current_snapshot_id,
    read_table,
    rollback_to,
    snapshot_history,
    total_records,
)


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v long")


def _vals(df):
    return sorted(r.v for r in df.collect())


def test_append_and_overwrite_snapshots(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert read_table(spark, t) is None
    s1 = commit_snapshot(_df(spark, [1, 2]), t)
    s2 = commit_snapshot(_df(spark, [3]), t)  # append
    assert (s1, s2) == (1, 2)
    assert _vals(read_table(spark, t)) == [1, 2, 3]
    s3 = commit_snapshot(_df(spark, [9]), t, operation="overwrite")
    assert _vals(read_table(spark, t)) == [9]
    # time travel reads any committed snapshot
    assert _vals(read_table(spark, t, snapshot_id=s1)) == [1, 2]
    assert _vals(read_table(spark, t, snapshot_id=s2)) == [1, 2, 3]
    hist = snapshot_history(t)
    assert [h["snapshot_id"] for h in hist] == [1, 2, 3]
    assert [h["operation"] for h in hist] == ["append", "append", "overwrite"]
    assert hist[2]["parent_id"] == s2


def test_crashed_commit_is_invisible(spark, tmp_path):
    """Data + manifest staged but no pointer flip (writer died) -> readers
    still see the previous snapshot; the next commit skips past the
    dangling id."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [1]), t)
    # simulate a crash: stage snapshot 2 fully except the pointer flip
    snap = os.path.join(t, "snap-00000002")
    _df(spark, [777]).write.parquet(os.path.join(snap, "data"))
    files = sorted(
        os.path.join("snap-00000002", "data", f)
        for f in os.listdir(os.path.join(snap, "data")) if f.endswith(".parquet")
    )
    with open(os.path.join(snap, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump({"snapshot_id": 2, "parent_id": 1, "operation": "append",
                   "committed_at_ms": 0, "added_files": len(files),
                   "files": files}, fh)
    assert current_snapshot_id(t) == 1
    assert _vals(read_table(spark, t)) == [1]  # 777 never leaks
    s = commit_snapshot(_df(spark, [2]), t)
    assert s == 3  # dangling id 2 skipped, not clobbered
    assert _vals(read_table(spark, t)) == [1, 2]
    assert [h["snapshot_id"] for h in snapshot_history(t)] == [1, 3]


def test_concurrent_appenders_cannot_both_win(spark, tmp_path):
    """Two appenders racing from the same parent: the exclusive version
    marker lets exactly one publish; the loser raises and its rows never
    appear — no silent lost update. Simulated by claiming the next
    version (what the racing winner does) before the commit's flip."""
    import pytest

    from intelligent_document_processing_on_aws_spark.sources.snapshots import (
        CommitConflictError,
        _claim_version,
        _latest_version,
        _snap_dir,
    )

    tbl = str(tmp_path / "tbl")
    s1 = commit_snapshot(_df(spark, [1, 2]), tbl, "append")

    real_claim = _claim_version

    def racing_claim(table_dir, version, snapshot_id):
        # writer B wins this version first (stages snap 99's flip)
        real_claim(table_dir, version, snapshot_id + 1000)
        real_claim(table_dir, version, snapshot_id)  # raises FileExistsError

    import intelligent_document_processing_on_aws_spark.sources.snapshots as snaps

    snaps._claim_version = racing_claim
    try:
        with pytest.raises(CommitConflictError):
            commit_snapshot(_df(spark, [3, 4]), tbl, "append")
    finally:
        snaps._claim_version = real_claim
    # winner-side state is NOT damaged: version advanced once, and the
    # loser's staged rows are invisible (marker points at the fake winner)
    assert _latest_version(tbl) == 2


def test_crashed_winner_is_repaired_by_next_reader(spark, tmp_path, monkeypatch):
    """A table committed before markers were linked whole can hold an
    empty marker, left by a writer that crashed between creating it and
    writing its snapshot id: the next reader walks past it to the
    previous commit, and the next commit claims the version after it."""
    import pytest

    import intelligent_document_processing_on_aws_spark.sources.snapshots as snaps

    class Crash(Exception):
        pass

    def crash_after_create(table_dir, version, snapshot_id):
        path = os.path.join(table_dir, snaps.COMMITS_DIR, f"v{version:08d}")
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        raise Crash

    tbl = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [1]), tbl, "append")
    s2 = commit_snapshot(_df(spark, [2]), tbl, "append")
    monkeypatch.setattr(snaps, "_claim_version", crash_after_create)
    with pytest.raises(Crash):
        commit_snapshot(_df(spark, [777]), tbl, "append")
    monkeypatch.undo()
    assert snaps._latest_version(tbl) == 3  # the empty marker is there
    assert current_snapshot_id(tbl) == s2
    assert _vals(read_table(spark, tbl)) == [1, 2]  # 777 never leaks
    s4 = commit_snapshot(_df(spark, [3]), tbl, "append")
    assert s4 == 4 and current_snapshot_id(tbl) == s4
    assert _vals(read_table(spark, tbl)) == [1, 2, 3]
    assert [h["snapshot_id"] for h in snapshot_history(tbl)] == [1, 2, 4]


def test_stalled_claim_cannot_lose_its_commit(spark, tmp_path, monkeypatch):
    """Writer 1 stalls inside its version claim once the marker exists;
    writer 2 commits meanwhile. Whatever each writer returns, the rows of
    every commit that returned a snapshot id are in the table."""
    import threading

    import intelligent_document_processing_on_aws_spark.sources.snapshots as snaps

    tbl = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [1]), tbl, "append")
    marker = os.path.join(tbl, snaps.COMMITS_DIR, f"v{2:08d}")
    claimed, release = threading.Event(), threading.Event()
    stalled = threading.current_thread().name + "-writer-1"

    class StallingOs:
        """The module's os, except that writer 1 waits for the release
        after the first call that leaves the version-2 marker on disk."""

        def __getattr__(self, name):
            real = getattr(os, name)
            if not callable(real):
                return real

            def call(*args, **kwargs):
                out = real(*args, **kwargs)
                if (threading.current_thread().name == stalled
                        and not claimed.is_set() and os.path.exists(marker)):
                    claimed.set()
                    assert release.wait(120)
                return out
            return call

    monkeypatch.setattr(snaps, "os", StallingOs())
    committed: dict[int, list[int]] = {}

    def writer_1():
        committed[commit_snapshot(_df(spark, [2]), tbl, "append")] = [2]

    t1 = threading.Thread(target=writer_1, name=stalled)
    t1.start()
    try:
        assert claimed.wait(120)
        committed[commit_snapshot(_df(spark, [3]), tbl, "append")] = [3]
    finally:
        release.set()
        t1.join(120)
    monkeypatch.undo()
    assert len(committed) == 2
    rows = _vals(read_table(spark, tbl))
    assert rows == sorted([1, *(v for vs in committed.values() for v in vs)])


def test_rollback_then_commit_does_not_clobber(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(_df(spark, [1]), t)
    s2 = commit_snapshot(_df(spark, [2]), t)
    rollback_to(t, s1)
    assert _vals(read_table(spark, t)) == [1]
    s3 = commit_snapshot(_df(spark, [5]), t)
    assert s3 == 3  # beyond the rolled-past snapshot
    assert _vals(read_table(spark, t)) == [1, 5]  # parent chain from s1
    # s2 stays time-travel-readable
    assert _vals(read_table(spark, t, snapshot_id=s2)) == [1, 2]


def test_rollback_to_missing_snapshot_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [1]), t)
    try:
        rollback_to(t, 42)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_resume_from_last_committed_snapshot(spark, tmp_path, fixtures_dir):
    """Kill/resume over snapshot commits: a dangling (crashed) output
    snapshot is invisible, so resume reprocesses exactly its rows and the
    committed table never holds a duplicate url."""
    from intelligent_document_processing_on_aws_spark.plans.lineage import (
        run_with_resume_snapshots,
    )

    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    first = pages.limit(80)
    out = str(tmp_path / "extracted")
    lin = str(tmp_path / "lineage")

    r1 = run_with_resume_snapshots(spark, first, out, lin, salt_partitions=4)
    assert r1["processed"] == 80 and r1["snapshot_id"] == 1

    # crashed second run: staged data, no pointer flip
    snap = os.path.join(out, "snap-00000002")
    _df(spark, [0]).write.parquet(os.path.join(snap, "data"))

    r2 = run_with_resume_snapshots(spark, pages, out, lin, salt_partitions=4)
    n_pages = pages.count()
    assert r2["processed"] == n_pages - 80
    assert r2["skipped"] == 80

    committed = read_table(spark, out)
    assert committed.count() == n_pages
    assert committed.select("url").distinct().count() == n_pages

    # third run: everything committed -> no-op, no new snapshot
    r3 = run_with_resume_snapshots(spark, pages, out, lin, salt_partitions=4)
    assert r3 == {"processed": 0, "skipped": n_pages, "snapshot_id": None}
    hist = snapshot_history(lin)
    assert len(hist) == 2  # one lineage commit per productive run

    # lineage: one row per committed output file, counted from its footer
    lineage = read_table(spark, lin).collect()
    assert sum(r.n_rows for r in lineage) == n_pages == total_records(out)
    files = {}
    for sid in (r1["snapshot_id"], r2["snapshot_id"]):
        for st in added_file_stats(out, sid):
            pid = int(os.path.basename(st["path"]).split("-")[1])
            files[(sid, pid)] = os.path.join(out, st["path"])
    assert len(lineage) == len(files)
    for r in lineage:
        urls = pq.read_table(files[(r.output_snapshot_id, r.partition_id)],
                             columns=["url"]).column("url")
        assert (r.n_rows, r.min_url, r.max_url) == (
            len(urls), pc.min(urls).as_py(), pc.max(urls).as_py())


def test_manifest_records_footer_stats(spark, tmp_path):
    """Each added file's record count, null counts and url bounds in the
    manifest equal what pyarrow reads from that file."""
    t = str(tmp_path / "tbl")
    rows = [(f"https://h{i % 7}.example/{i:03d}", None if i % 3 else f"err {i}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "url string, error string").repartition(3)
    sid = commit_snapshot(df, t)
    stats = added_file_stats(t, sid)
    assert len(stats) == 3
    for st in stats:
        tbl = pq.read_table(os.path.join(t, st["path"]))
        assert st["record_count"] == tbl.num_rows
        for name in ("url", "error"):
            col = st["columns"][name]
            assert col["null_count"] == tbl.column(name).null_count
            assert col["lower_bound"] == pc.min(tbl.column(name)).as_py()
            assert col["upper_bound"] == pc.max(tbl.column(name)).as_py()
    assert total_records(t) == 60


def test_arrow_table_commit_records_footer_stats(tmp_path):
    """A pyarrow.Table commits as one driver-written part-00000.parquet;
    its manifest stats equal what pyarrow reads from that file."""
    t = str(tmp_path / "tbl")
    tbl = pa.table({
        "url": [f"https://h{i % 7}.example/{i:03d}" for i in range(40)],
        "error": [None if i % 3 else f"err {i}" for i in range(40)],
        "n": pa.array(range(40), pa.int64()),
    })
    sid = commit_snapshot(tbl, t)
    [st] = added_file_stats(t, sid)
    assert st["path"] == os.path.join(f"snap-{sid:08d}", "data", "part-00000.parquet")
    got = pq.read_table(os.path.join(t, st["path"]))
    assert got.equals(tbl)
    assert st["record_count"] == got.num_rows
    for name in tbl.column_names:
        col = st["columns"][name]
        assert col["null_count"] == got.column(name).null_count
        assert col["lower_bound"] == pc.min(got.column(name)).as_py()
        assert col["upper_bound"] == pc.max(got.column(name)).as_py()
    assert total_records(t) == 40


def test_lineage_from_spark_then_arrow_reads_as_one_table(spark, tmp_path):
    """A lineage table whose first snapshot Spark wrote (as earlier
    versions did) and whose second the driver wrote with pyarrow reads
    as one frame with the same Spark types."""
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.plans.lineage import lineage_rows

    def stats(part, n, errors, lo, hi):
        return {"path": f"snap-00000001/data/part-{part:05d}-x.snappy.parquet",
                "record_count": n,
                "columns": {"url": {"null_count": 0, "lower_bound": lo, "upper_bound": hi},
                            "error": {"null_count": n - errors,
                                      "lower_bound": None, "upper_bound": None}}}

    t = str(tmp_path / "lineage")
    ddl = ("partition_id int, n_rows bigint, n_errors bigint, min_url string, "
           "max_url string, run_rows bigint, output_snapshot_id int")
    old = lineage_rows([stats(0, 3, 1, "a", "c"), stats(1, 2, 0, "d", "e")], 5, 1)
    commit_snapshot(spark.createDataFrame(old.to_pylist(), ddl).coalesce(1), t)
    commit_snapshot(lineage_rows([stats(2, 4, 2, "f", "i")], 4, 2), t)
    lineage = read_table(spark, t)
    assert lineage.dtypes == [tuple(c.split()) for c in ddl.split(", ")]
    arrow_file = os.path.join(t, added_file_stats(t, 2)[0]["path"])
    assert spark.read.parquet(arrow_file).dtypes == lineage.dtypes
    assert lineage.agg(F.sum("n_rows"), F.sum("n_errors")).first() == (9, 3)
    assert sorted(r.partition_id for r in lineage.collect()) == [0, 1, 2]


def test_total_records_adds_up_and_resets_on_overwrite(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert total_records(t) == 0
    s1 = commit_snapshot(_df(spark, [1, 2]), t)
    s2 = commit_snapshot(_df(spark, [3]), t)
    assert (total_records(t, s1), total_records(t)) == (2, 3)
    commit_snapshot(_df(spark, [9]), t, operation="overwrite")
    assert total_records(t) == 1
    assert total_records(t, s2) == 3  # time travel keeps its own total


def test_manifest_without_stats_still_reads(spark, tmp_path):
    """Manifests written before file stats existed: reads, totals and
    file stats fall back to the data files' footers, and the next append
    builds its total on them."""
    t = str(tmp_path / "tbl")
    s1 = commit_snapshot(_df(spark, [1, 2]), t)
    s2 = commit_snapshot(_df(spark, [3]), t)
    for sid in (s1, s2):
        path = os.path.join(t, f"snap-{sid:08d}", "manifest.json")
        with open(path, encoding="utf-8") as fh:
            manifest = json.load(fh)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({k: v for k, v in manifest.items()
                       if k not in ("added_file_stats", "summary")}, fh)
    assert _vals(read_table(spark, t)) == [1, 2, 3]
    assert total_records(t) == 3
    [st] = [st for st in added_file_stats(t, s2) if st["record_count"]]
    assert st["record_count"] == 1 and st["columns"]["v"]["lower_bound"] == 3
    commit_snapshot(_df(spark, [4, 5]), t)
    assert total_records(t) == 5


def test_fresh_resume_runs_at_most_five_jobs(spark, tmp_path, fixtures_dir):
    """A run into an empty table is one Python pass and nothing else: the
    extraction write's shuffle map stage and the write. No input count,
    no resume anti-join, and the lineage commit is a driver-side pyarrow
    write."""
    from intelligent_document_processing_on_aws_spark.plans.lineage import (
        run_with_resume_snapshots,
    )

    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("fresh-resume", "fresh run_with_resume_snapshots")
    try:
        r = run_with_resume_snapshots(
            spark, pages, str(tmp_path / "out"), str(tmp_path / "lineage"),
            salt_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r == {"processed": 200, "skipped": 0, "snapshot_id": 1}
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-resume")) <= 2


def test_fresh_run_over_empty_input(spark, tmp_path, fixtures_dir):
    """An empty input into an empty table is not counted either: it
    commits one empty output snapshot, and a re-run commits nothing."""
    from intelligent_document_processing_on_aws_spark.plans.lineage import (
        run_with_resume_snapshots,
    )

    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet")).limit(0)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    r1 = run_with_resume_snapshots(spark, pages, out, lin, salt_partitions=4)
    assert r1 == {"processed": 0, "skipped": 0, "snapshot_id": 1}
    assert total_records(out) == 0
    r2 = run_with_resume_snapshots(spark, pages, out, lin, salt_partitions=4)
    assert r2 == {"processed": 0, "skipped": 0, "snapshot_id": None}
    assert [len(snapshot_history(t)) for t in (out, lin)] == [1, 1]
