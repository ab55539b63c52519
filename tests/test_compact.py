"""Small-file compaction job (jobs/compact.py)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _content_hash(con, path: str):
    return con.execute(
        f"SELECT count(*), md5(string_agg(text, '' ORDER BY doc_id)) "
        f"FROM read_parquet('{path}/**/*.parquet')").fetchone()


def test_compact_job_merges_files_content_identical(spark, tmp_path):
    """64 tiny files -> ceil(bytes/target) files; rows and an
    order-independent content hash are identical; --order-by produces
    range-ordered output with the same content."""
    src = str(tmp_path / "frag")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .repartition(64).write.mode("overwrite").parquet(src)

    con = duckdb.connect()
    before = _content_hash(con, src)

    for extra, name in ([], "plain"), (["--order-by", "doc_id"], "ordered"):
        out = str(tmp_path / f"compacted_{name}")
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "compact.py"),
             "--input", src, "--output", out, "--target-mb", "1", *extra],
            capture_output=True, text=True, timeout=300, cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        stats = json.loads(
            [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
        assert stats["files_before"] == 64
        assert stats["files_after"] < 64
        assert _content_hash(con, out) == before

    # ordered variant: file-level doc_id ranges must not overlap
    ordered = str(tmp_path / "compacted_ordered")
    spans = con.execute(
        f"SELECT filename, min(doc_id), max(doc_id) "
        f"FROM read_parquet('{ordered}/**/*.parquet', filename=1) "
        f"GROUP BY filename ORDER BY 2").fetchall()
    for (_, _, hi), (_, lo2, _) in zip(spans, spans[1:]):
        assert hi < lo2
