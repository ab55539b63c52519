"""The class-data sharing archive's key, lock, temp-then-rename, size
record and failure marker, driven by stub training commands (no JVM).

A stub gets the temp path as its last argument, as the real training
child does, and counts its runs in a file next to the cache."""

from __future__ import annotations

import os
import sys
import textwrap
import threading
import time

from pyspark import SparkContext

from intelligent_document_processing_on_aws_spark.cds import (
    archive_key,
    launch_conf_dir,
    shared_archive,
    sharing,
)


def _stub(tmp_path, body: str) -> list[str]:
    """A training command: count the run, then run body with ``tmp`` the
    temp archive path."""
    script = tmp_path / "stub.py"
    script.write_text(textwrap.dedent(f"""
        import os, subprocess, sys, time
        tmp = sys.argv[-1]
        with open({str(tmp_path / 'runs')!r}, "a") as fh:
            fh.write("run\\n")
    """) + body)
    return [sys.executable, str(script)]


def _runs(tmp_path) -> int:
    path = tmp_path / "runs"
    return len(path.read_text().splitlines()) if path.exists() else 0


def _cache(tmp_path, monkeypatch) -> str:
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return str(tmp_path / "cache" / "idp-spark" / "cds")


_WRITES = 'with open(tmp, "w") as fh:\n    fh.write("archive")\n'


def test_key_follows_jdk_jars_and_options(tmp_path, monkeypatch):
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_text("")
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (spark_home / "jars").mkdir(parents=True)
    jar = spark_home / "jars" / "spark-core.jar"
    jar.write_bytes(b"jar")
    monkeypatch.setenv("JAVA_HOME", str(java_home))

    key = archive_key(str(spark_home), "-XX:TieredStopAtLevel=1")
    assert key == archive_key(str(spark_home), "-XX:TieredStopAtLevel=1")
    assert key != archive_key(str(spark_home), "-XX:TieredStopAtLevel=4")
    os.utime(jar, ns=(0, 10**18))
    touched = archive_key(str(spark_home), "-XX:TieredStopAtLevel=1")
    assert touched != key
    (java_home / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert archive_key(str(spark_home), "-XX:TieredStopAtLevel=1") not in (key, touched)
    # no JDK to digest, no archive
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "nowhere"))
    assert archive_key(str(spark_home), "-XX:TieredStopAtLevel=1") is None


def test_conf_dir_with_a_real_file_turns_cds_off(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    empty = launch_conf_dir(str(tmp_path))
    assert empty == os.path.join(cache, "conf") and os.listdir(empty) == []
    (conf / "spark-defaults.conf").write_text("spark.idp.probe yes\n")
    assert launch_conf_dir(str(tmp_path)) is None
    # no conf directory at all: Spark reads nothing, CDS applies
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert launch_conf_dir(str(tmp_path / "no-spark-home")) == empty


def test_built_once_per_key(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    cmd = _stub(tmp_path, _WRITES)
    first = shared_archive("k1", cmd, dict(os.environ))
    assert first == os.path.join(cache, "k1.jsa") and open(first).read() == "archive"
    assert shared_archive("k1", cmd, dict(os.environ)) == first and _runs(tmp_path) == 1
    # a changed key builds a new archive
    assert shared_archive("k2", cmd, dict(os.environ)) == os.path.join(cache, "k2.jsa")
    assert _runs(tmp_path) == 2
    assert sorted(n for n in os.listdir(cache) if not n.endswith((".lock", ".log"))) \
        == ["k1.jsa", "k1.size", "k2.jsa", "k2.size"]


def test_truncated_archive_is_deleted_and_rebuilt_once(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    archive = os.path.join(cache, "k.jsa")
    # the stub also notes whether an archive file exists while it builds
    cmd = _stub(tmp_path, textwrap.dedent(f"""
        with open({str(tmp_path / 'seen')!r}, "a") as fh:
            fh.write(str(os.path.exists({archive!r})) + "\\n")
    """) + _WRITES)
    assert shared_archive("k", cmd, dict(os.environ)) == archive
    with open(archive, "r+") as fh:
        fh.truncate(3)  # a cut-short copy: the JVM would crash mapping it
    assert shared_archive("k", cmd, dict(os.environ)) == archive
    assert open(archive).read() == "archive" and _runs(tmp_path) == 2
    # the truncated file was gone before the rebuild began
    assert (tmp_path / "seen").read_text().split() == ["False", "False"]
    # a whole archive is not built again
    assert shared_archive("k", cmd, dict(os.environ)) == archive and _runs(tmp_path) == 2
    # an archive without a size record is not trusted either
    os.unlink(os.path.join(cache, "k.size"))
    assert shared_archive("k", cmd, dict(os.environ)) == archive and _runs(tmp_path) == 3


def test_concurrent_starters_leave_one_archive(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    cmd = _stub(tmp_path, "time.sleep(2)\n" + _WRITES)
    results, waited = [], []

    def start():
        t0 = time.perf_counter()
        results.append(shared_archive("k", cmd, dict(os.environ)))
        waited.append(time.perf_counter() - t0)

    threads = [threading.Thread(target=start) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    archive = os.path.join(cache, "k.jsa")
    # one starter built it; the others started without it, without waiting
    assert sorted(results, key=str) == [archive] + [None] * 5
    assert sorted(waited)[:5][-1] < 1.5 and _runs(tmp_path) == 1
    assert [n for n in os.listdir(cache) if n.endswith((".jsa", ".tmp"))] == ["k.jsa"]


def test_failed_build_leaves_a_marker_not_an_archive(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    # a dump cut short: the JVM wrote part of the file, then failed
    cmd = _stub(tmp_path, _WRITES + "sys.exit(3)\n")
    assert shared_archive("k", cmd, dict(os.environ)) is None
    assert sorted(os.listdir(cache)) == ["k.failed", "k.lock", "k.log"]
    assert open(os.path.join(cache, "k.failed")).read() == "exit status 3\n"
    # later starts do not pay for the build again
    assert shared_archive("k", cmd, dict(os.environ)) is None and _runs(tmp_path) == 1


def test_killed_build_leaves_no_archive_and_no_process(tmp_path, monkeypatch):
    cache = _cache(tmp_path, monkeypatch)
    # a stale temp file of a build whose parent died is cleared too
    os.makedirs(cache)
    open(os.path.join(cache, "k.999999.tmp"), "w").close()
    pid_file = tmp_path / "grandchild"
    cmd = _stub(tmp_path, _WRITES + textwrap.dedent(f"""
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
        open({str(pid_file)!r}, "w").write(str(child.pid))
        time.sleep(60)
    """))
    t0 = time.perf_counter()
    assert shared_archive("k", cmd, dict(os.environ), timeout_s=5) is None
    assert time.perf_counter() - t0 < 30
    assert sorted(os.listdir(cache)) == ["k.failed", "k.lock", "k.log"]
    assert open(os.path.join(cache, "k.failed")).read() == "timed out after 5 s\n"
    # the training command's whole process group was killed
    pid = int(pid_file.read_text())
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    break
        except FileNotFoundError:
            break
        time.sleep(0.1)
    else:
        raise AssertionError(f"training grandchild {pid} still running")


def test_unwritable_cache_starts_without_the_archive(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    # as if no driver JVM ran in this process (the suite's may)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    confs = {"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1"}
    with sharing(confs) as launch:
        assert launch == confs and "SPARK_CONF_DIR" not in os.environ
