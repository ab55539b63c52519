"""The real deployment boundary: spark-submit --py-files <zip>.

Runs jobs/extract.py through an actual spark-submit process from a
directory OUTSIDE the repo, with the engine supplied ONLY by the
packaged archive (scripts/package_pyfiles.py) — the north-star shipping
contract ("ships via spark-submit --py-files with zero per-row Python").
Output is verified against the committed golden with DuckDB (no Spark in
the verification loop).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_pyfiles_roundtrip(tmp_path):
    sys.path.insert(0, REPO)
    from scripts.package_pyfiles import build

    zip_path = build(str(tmp_path / "idp_spark.zip"))
    # byte-stable packaging (artifact caching contract)
    again = build(str(tmp_path / "idp_spark_2.zip"))
    assert open(zip_path, "rb").read() == open(again, "rb").read()

    # the job script is COPIED outside the repo: its self-referential
    # sys.path.insert points at tmp, so only --py-files provides the pkg
    job = str(tmp_path / "extract.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "extract.py"), job)

    src = pq.read_table(os.path.join(REPO, "fixtures_data", "t1_pages.parquet"))
    subset = src.slice(0, 150)
    in_path = str(tmp_path / "pages.parquet")
    pq.write_table(subset, in_path)
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [_spark_submit(), "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path, job,
         "--input", in_path, "--output", out_dir, "--salt-partitions", "4"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    stats = json.loads(line)
    assert stats["rows"] == 150

    con = duckdb.connect()
    bad = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{out_dir}/*/*.parquet',
                                          hive_partitioning=1) r
        JOIN read_parquet('{REPO}/fixtures_data/t1_golden.parquet') g
          USING (url)
        WHERE r.extracted_text <> g.extracted_text
        """
    ).fetchone()[0]
    n_out = con.execute(
        f"SELECT count(*) FROM read_parquet('{out_dir}/*/*.parquet', "
        f"hive_partitioning=1)"
    ).fetchone()[0]
    assert n_out == 150 and bad == 0


def test_job_runs_outside_repo_root(tmp_path):
    """`python /abs/path/jobs/extract.py` from another directory with no
    PYTHONPATH: the job script's own sys.path entry serves its process and
    the session's worker PYTHONPATH serves the Python workers."""
    src = pq.read_table(os.path.join(REPO, "fixtures_data", "t1_pages.parquet"))
    in_path = str(tmp_path / "pages.parquet")
    pq.write_table(src.slice(0, 150), in_path)
    out_dir = str(tmp_path / "out")

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "extract.py"),
         "--master", "local[4]", "--input", in_path, "--output", out_dir,
         "--salt-partitions", "4"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    assert json.loads(line)["rows"] == 150
    n_out = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{out_dir}/*/*.parquet', "
        f"hive_partitioning=1)"
    ).fetchone()[0]
    assert n_out == 150
