"""Resume-from-checkpoint, document status, manifests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.plans.lineage import (
    run_with_resume_snapshots,
)
from intelligent_document_processing_on_aws_spark.sources.snapshots import read_table


def assert_no_duplicates(spark, output_table: str) -> int:
    """Rows in the committed output snapshot; raises if a url repeats."""
    out = read_table(spark, output_table)
    n = out.count()
    d = out.select("url").distinct().count()
    if n != d:
        raise AssertionError(f"duplicate urls in output: {n} rows, {d} distinct")
    return n


def test_resume_no_duplicates(spark, tmp_path, synthetic_pages):
    """Kill-and-rerun semantics: first run commits half the corpus, resume
    processes only the remainder; no url duplicated, all urls present."""
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    all_pages = synthetic_pages(120, partitions=4)
    first_half = all_pages.where(F.xxhash64("url") % 2 == 0)

    r1 = run_with_resume_snapshots(spark, first_half, out, lineage, salt_partitions=4)
    assert r1["processed"] > 0

    # "resume" over the full input: only the unprocessed urls run
    r2 = run_with_resume_snapshots(spark, all_pages, out, lineage, salt_partitions=4)
    assert r2["processed"] + r2["skipped"] == 120
    assert r2["skipped"] == r1["processed"]

    assert assert_no_duplicates(spark, out) == 120
    # idempotent third run: nothing to do
    r3 = run_with_resume_snapshots(spark, all_pages, out, lineage, salt_partitions=4)
    assert r3["processed"] == 0 and r3["skipped"] == 120
    assert assert_no_duplicates(spark, out) == 120

    lin = read_table(spark, lineage)
    assert lin.agg(F.sum("n_rows")).first()[0] == 120
    assert lin.agg(F.sum("n_errors")).first()[0] == 0


def test_document_status_lifecycle(spark, tmp_path):
    """Tracking-service analog (models.py Status + docs_service updates):
    per-doc transitions append, latest = furthest stage, FAILED outranks
    COMPLETED, unknown status rejected."""
    from intelligent_document_processing_on_aws_spark.plans.status import (
        append_status,
        latest_status,
        status_counts,
    )

    wh = str(tmp_path / "wh")
    ids = lambda *v: spark.createDataFrame([(x,) for x in v], "doc_id long")  # noqa: E731
    append_status([
        (ids(1, 2, 3), "QUEUED"),
        (ids(1, 2, 3), "CLASSIFYING"),
        (ids(1, 2), "EXTRACTING"),
        (ids(1), "COMPLETED"),
        (ids(2), "FAILED"),
    ], wh)

    latest = {r.doc_id: r.status for r in latest_status(spark, wh).collect()}
    assert latest == {1: "COMPLETED", 2: "FAILED", 3: "CLASSIFYING"}
    assert status_counts(spark, wh) == {"COMPLETED": 1, "FAILED": 1,
                                        "CLASSIFYING": 1}
    # FAILED outranks COMPLETED (a failure is never masked)
    append_status([(ids(1), "FAILED")], wh)
    assert {r.doc_id: r.status for r in
            latest_status(spark, wh).collect()}[1] == "FAILED"
    # duplicate appends are idempotent for latest_status
    append_status([(ids(3), "CLASSIFYING")], wh)
    assert {r.doc_id: r.status for r in
            latest_status(spark, wh).collect()}[3] == "CLASSIFYING"
    with pytest.raises(ValueError):
        append_status([(ids(1), "NOT_A_STATUS")], wh)


def test_append_status_is_one_write_with_observed_counts(spark, tmp_path):
    """A run's transitions land in one append: one row per distinct
    (doc_id, status), and the returned per-status counts are the rows of
    that write."""
    import os

    import pyarrow.dataset as ds

    from intelligent_document_processing_on_aws_spark.plans.status import (
        STATUS_TABLE,
        append_status,
    )

    wh = str(tmp_path / "wh")
    ids = lambda *v: spark.createDataFrame([(x,) for x in v], "doc_id long")  # noqa: E731
    written = append_status([
        (ids(1, 1, 2, 3), "QUEUED"),       # duplicate ids collapse
        (ids(3, 2, 1), "QUEUED"),          # as do repeated transitions
        (ids(1, 2), "EXTRACTING"),
        (ids(1), "COMPLETED"),
        (ids(), "FAILED"),                 # no ids: counted as 0
    ], wh)
    assert written == {"QUEUED": 3, "EXTRACTING": 2, "COMPLETED": 1, "FAILED": 0}
    table = os.path.join(wh, STATUS_TABLE)
    rows = ds.dataset(table).to_table().to_pylist()
    assert sorted((r["doc_id"], r["status"], r["seq"]) for r in rows) == [
        (1, "COMPLETED", 10), (1, "EXTRACTING", 4), (1, "QUEUED", 0),
        (2, "EXTRACTING", 4), (2, "QUEUED", 0), (3, "QUEUED", 0),
    ]
    # one append: every file carries the same write-job id
    assert len({f[len("part-00000-"):][:36] for f in os.listdir(table)
                if f.startswith("part-")}) == 1


def test_append_status_checks_every_status_before_writing(spark, tmp_path):
    from intelligent_document_processing_on_aws_spark.plans.status import append_status

    wh = str(tmp_path / "wh")
    ids = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="NOT_A_STATUS"):
        append_status([(ids, "QUEUED"), (ids, "NOT_A_STATUS")], wh)
    assert not os.path.exists(wh)


def test_manifest_parser_parity(tmp_path, spark, fixtures_dir):
    """CLI ManifestParser semantics (manifest_parser.py:20-169): CSV and
    JSON (array / documents-key) forms, s3/local auto-typing, baseline
    passthrough, row-numbered errors, and the Spark batch read over the
    listed local inputs."""
    import json

    from intelligent_document_processing_on_aws_spark.plans.manifest import (
        parse_manifest,
    )

    t1 = os.path.join(fixtures_dir, "t1_pages.parquet")
    csv_m = tmp_path / "m.csv"
    csv_m.write_text(
        "document_path,baseline_source\n"
        f"{t1},\n"
        "s3://bucket/key/doc.pdf,s3://bucket/base/doc.json\n"
    )
    docs = parse_manifest(str(csv_m))
    assert docs[0]["type"] == "local" and docs[0]["baseline_source"] is None
    assert docs[1] == {"path": "s3://bucket/key/doc.pdf", "type": "s3",
                       "filename": "doc.pdf",
                       "baseline_source": "s3://bucket/base/doc.json"}

    for payload in ([{"path": t1}], {"documents": [{"path": t1}]}):
        j = tmp_path / "m.json"
        j.write_text(json.dumps(payload))
        assert parse_manifest(str(j))[0]["type"] == "local"

    # row-numbered errors
    bad = tmp_path / "bad.csv"
    bad.write_text("document_path,baseline_source\n,orphan-baseline\n")
    with pytest.raises(ValueError, match="Row 2"):
        parse_manifest(str(bad))
    missing = tmp_path / "missing.csv"
    missing.write_text("document_path\n/no/such/file.parquet\n")
    with pytest.raises(ValueError, match="not found"):
        parse_manifest(str(missing))
    with pytest.raises(ValueError, match="Unsupported manifest format"):
        parse_manifest(str(tmp_path / "m.yaml"))

    # the batch surface: Spark reads every local input the manifest names
    local_paths = [d["path"] for d in parse_manifest(str(csv_m))
                   if d["type"] == "local"]
    assert spark.read.parquet(*local_paths).count() == 200
