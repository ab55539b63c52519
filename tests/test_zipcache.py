"""Zip importers re-read an archive only when it changed (_zipcache)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from intelligent_document_processing_on_aws_spark import _zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    # write-then-rename, as a build or a deploy replaces an archive
    with zipfile.ZipFile(f"{path}.tmp", "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(f"{path}.tmp", path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib method is lazy")
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module("zc_first").VALUE == 1
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()  # the first invalidation stamps the archive
    assert reads.count(archive) <= 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"zc_first": "VALUE = 1\n", "zc_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_second").VALUE == 2


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib method is lazy")
def test_archive_changed_before_package_import_is_reread(archive):
    """An archive rewritten between its first read and the import of
    _zipcache must not be stamped current with its stale directory."""
    assert importlib.import_module("zc_first").VALUE == 1
    _write_zip(archive, {"zc_first": "VALUE = 1\n", "zc_second": "VALUE = 2\n"})
    importlib.reload(_zipcache)  # runs the import-time stamping again
    importlib.invalidate_caches()
    assert importlib.import_module("zc_second").VALUE == 2


def test_patch_only_before_python_313():
    method = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13):
        assert method.__module__ == "zipimport"
    else:
        assert method is _zipcache._invalidate_caches


_WORKER_READS = textwrap.dedent("""
    import json
    from intelligent_document_processing_on_aws_spark.session import get_spark

    def reads_since_last_task(_):
        # zipimport._read_directory calls in this worker since its previous
        # task ran this function, i.e. during this task's setup
        import zipimport
        import intelligent_document_processing_on_aws_spark  # noqa: F401
        counter = getattr(zipimport, "_test_reads", None)
        if counter is None:
            counter = zipimport._test_reads = [0]
            read_directory = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read_directory(path)

            zipimport._read_directory = counting
            yield None
            return
        reads, counter[0] = counter[0], 0
        yield reads

    spark = get_spark("zipcache-test", master="local[1]")
    try:
        rdd = spark.sparkContext.parallelize(range(8), 8)
        print(json.dumps(rdd.mapPartitions(reads_since_last_task).collect()))
    finally:
        spark.stop()
""")


def test_reused_worker_rereads_no_archive(tmp_path):
    """After a worker's first task, no task re-reads an unchanged zip."""
    script = tmp_path / "worker_reads.py"
    script.write_text(_WORKER_READS)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True,
        timeout=300, env=env, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    reads = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(reads) == 8 and reads[0] is None
    assert reads[1:] == [0] * 7
