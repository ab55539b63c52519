"""The real deployment boundary: spark-submit --py-files <zip>.

Runs jobs/extract.py through an actual spark-submit process from a
directory OUTSIDE the repo, with the engine supplied ONLY by the
packaged archive (scripts/package_pyfiles.py) — the north-star shipping
contract ("ships via spark-submit --py-files with zero per-row Python").
Output is read through the committed snapshot's manifest and verified
against the committed golden with DuckDB (no Spark in the verification
loop).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import duckdb
import pyarrow.parquet as pq

from intelligent_document_processing_on_aws_spark.session import driver_memory
from intelligent_document_processing_on_aws_spark.sources.snapshots import current_snapshot_id

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


# the settings a session took, read back from the session itself, and the
# heap the driver JVM really has (MB)
_PRECEDENCE_PROBE = textwrap.dedent("""
    import json

    from intelligent_document_processing_on_aws_spark.session import cds_archive, get_spark

    spark = get_spark("precedence-probe")
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    print(json.dumps([spark.sparkContext.master,
                      spark.conf.get("spark.sql.shuffle.partitions"),
                      spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
                      spark.conf.get("spark.driver.memory", None),
                      runtime.maxMemory() >> 20,
                      spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
                      cds_archive(spark)]))
    spark.stop()
""")


def _committed_files(out_dir: str) -> str:
    """The data files the job's committed output snapshot lists in its
    manifest (sources/snapshots.py layout), as a DuckDB list literal."""
    table = os.path.join(out_dir, "table")
    manifest = os.path.join(table, f"snap-{current_snapshot_id(table):08d}", "manifest.json")
    with open(manifest, encoding="utf-8") as fh:
        files = json.load(fh)["files"]
    return "[" + ", ".join(f"'{os.path.join(table, f)}'" for f in files) + "]"


def _probe_settings(cmd: list[str], env: dict, cwd: str) -> list[str]:
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300,
                          env=env, cwd=cwd)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_launcher_settings_win_over_session_defaults(tmp_path):
    """spark-submit's --master and --conf reach the session, and the session
    claims no heap or class-data archive beyond what the launcher's JVM
    runs with; without a launcher the session takes the engine's
    defaults, sized by SPARK_GRAFT_CPUS and the box's RAM."""
    sys.path.insert(0, REPO)
    from scripts.package_pyfiles import build

    zip_path = build(str(tmp_path / "idp_spark.zip"))
    probe = tmp_path / "probe.py"
    probe.write_text(_PRECEDENCE_PROBE)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)

    submitted = _probe_settings(
        [_spark_submit(), "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=7",
         "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=100",
         "--py-files", zip_path, str(probe)],
        env, str(tmp_path))
    assert submitted[:4] == ["local[2]", "7", "100", None]
    # the launcher's default heap is 1g, and its JVM maps no archive of ours
    assert submitted[4] <= 1024 and submitted[6] is None

    plain = _probe_settings(
        [sys.executable, str(probe)],
        dict(env, PYTHONPATH=zip_path, SPARK_GRAFT_CPUS="3"), str(tmp_path))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = driver_memory(ram)
    assert plain[:4] == ["local[3]", "3", "2048", heap]
    assert plain[4] > int(heap[:-1]) * 0.9
    # AQE skew-join handling is the engine's own default
    assert plain[5] == "true"


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

    def submit() -> dict:
        # P comes from the launcher's shuffle partitions
        proc = subprocess.run(
            [_spark_submit(), "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--py-files", zip_path, job,
             "--input", in_path, "--output", out_dir, "--snapshots"],
            capture_output=True, text=True, timeout=420, env=env,
            cwd=str(tmp_path),
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        return json.loads(line)

    stats = submit()
    assert stats["rows"] == stats["processed"] == 150 and stats["skipped"] == 0
    assert stats["jvm_jit_s"] >= 0 and stats["cds_archive"] is None
    # the identical launch resumes: every url is committed, nothing runs
    again = submit()
    assert again["rows"] == 150 and again["processed"] == 0 and again["skipped"] == 150

    con = duckdb.connect()
    files = _committed_files(out_dir)
    bad = con.execute(
        f"""
        SELECT count(*) FROM read_parquet({files}) r
        JOIN read_parquet('{REPO}/fixtures_data/t1_golden.parquet') g
          USING (url)
        WHERE r.extracted_text <> g.extracted_text
        """
    ).fetchone()[0]
    n_out, n_urls = con.execute(
        f"SELECT count(*), count(DISTINCT url) FROM read_parquet({files})"
    ).fetchone()
    assert n_out == n_urls == 150 and bad == 0


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
    stats = json.loads(line)
    assert stats["rows"] == 150 and stats["jvm_jit_s"] >= 0
    n_out = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet({_committed_files(out_dir)})"
    ).fetchone()[0]
    assert n_out == 150
