"""Class-data sharing for the driver JVM that ``session.get_spark`` starts.

Starting the driver JVM and running its first job is mostly loading and
linking Spark's classes. A dynamic AppCDS archive (JEP 350) holds them
pre-parsed, and a JVM started with ``-XX:SharedArchiveFile=<archive>``
maps it instead. JDK 17 cannot create the archive on its own, so this
module does:

- the archive is keyed on a digest of the JDK (``java.home`` and its
  ``release`` file), the classpath jars (name, size, mtime) and the JVM
  options; the JVM validates it again when it maps it and, under the
  default ``-Xshare:auto``, falls back to normal class loading;
- it lives in a per-user cache directory (``$XDG_CACHE_HOME`` or
  ``~/.cache``), never in the checkout;
- the first start for a key builds it: a training child process (its own
  process group, with a timeout) runs a tiny session under
  ``-XX:ArchiveClassesAtExit=<temp>``, and only after that JVM has exited
  with status 0 is the temp file renamed to the archive's name. A
  non-blocking lock makes one starter build while concurrent ones start
  without the archive, and a failed build leaves a marker so later starts
  do not pay for it again;
- the build records the archive's byte size next to it. A JVM given a
  truncated archive crashes (SIGBUS) instead of falling back, so a start
  that finds an archive of another size, or with no record, deletes it
  and builds it again. One ``stat`` checks it: no hash of the file;
- CDS refuses a non-empty directory on the classpath, and Spark's
  launcher puts the conf directory there. A conf directory without a real
  file (none, or only ``*.template`` files) is swapped for an empty
  package-owned one for the launch; a real ``spark-defaults.conf``,
  ``spark-env.sh`` or ``log4j2.properties`` turns CDS off instead.

Run as ``python -m intelligent_document_processing_on_aws_spark.cds
<confs json> <temp archive>`` it is the training child.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from collections.abc import Iterator

# the cold build (session, training job, dump) took 41-44 s on a 4-vCPU
# VM
BUILD_TIMEOUT_S = 300

JAVA_OPTIONS = "spark.driver.defaultJavaOptions"


def cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "idp-spark", "cds")


def launch_conf_dir(spark_home: str) -> str | None:
    """The empty conf directory to launch the JVM with, or None when the
    conf directory Spark would read holds a real file."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    empty = os.path.join(cache_dir(), "conf")
    os.makedirs(empty, exist_ok=True)
    return empty


def archive_key(spark_home: str, java_options: str) -> str | None:
    """Digest of what the archive depends on; None without a JDK or jars
    directory to digest. Spark's launcher runs $JAVA_HOME/bin/java, or
    the java on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    digest = hashlib.sha256(f"{java_home}\n{java_options}\n".encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as fh:
            digest.update(fh.read())
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
    except FileNotFoundError:
        return None
    for jar in jars:
        st = jar.stat()
        digest.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:24]


def _train(cmd: list[str], env: dict, log: str, timeout_s: float) -> str | None:
    """Run the training command in its own process group; None on
    success, else why it failed. Whatever is left of the group when the
    command exits or times out is killed, so no JVM goes on writing the
    temp file."""
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if code is None:
        return f"timed out after {timeout_s} s"
    return None if code == 0 else f"exit status {code}"


def _whole(archive: str, size_file: str) -> bool:
    """Whether the archive has the byte size its build recorded."""
    try:
        with open(size_file) as fh:
            return os.stat(archive).st_size == int(fh.read())
    except (OSError, ValueError):
        return False


def shared_archive(key: str, cmd: list[str], env: dict,
                   timeout_s: float = BUILD_TIMEOUT_S) -> str | None:
    """The archive for key, built first if need be by running cmd with a
    temp path appended; None while another process builds it, or if its
    build failed."""
    root = cache_dir()
    archive = os.path.join(root, f"{key}.jsa")
    size_file = os.path.join(root, f"{key}.size")
    failed = os.path.join(root, f"{key}.failed")
    if _whole(archive, size_file):
        return archive
    if os.path.exists(failed):
        return None
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, f"{key}.lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None
        if _whole(archive, size_file):
            return archive
        if os.path.exists(failed):
            return None
        # what a build killed with its parent left behind, and an archive
        # that is not the size its build recorded
        for stale in [*glob.glob(os.path.join(root, f"{key}.*.tmp")), archive]:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(stale)
        tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
        error = _train([*cmd, tmp], env, os.path.join(root, f"{key}.log"), timeout_s)
        if error is None and os.path.isfile(tmp):
            with open(size_file, "w") as fh:
                fh.write(str(os.path.getsize(tmp)))
            os.rename(tmp, archive)
            return archive
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        with open(failed, "w") as fh:
            fh.write(f"{error or 'no archive written'}\n")
        return None


@contextlib.contextmanager
def sharing(confs: dict[str, str]) -> Iterator[dict[str, str]]:
    """confs with the driver JVM's options extended by the archive's
    -XX:SharedArchiveFile, and SPARK_CONF_DIR set to the empty conf
    directory, for a JVM launched inside the block; confs unchanged when
    CDS does not apply. SPARK_CONF_DIR is restored on exit, so the next
    launch in this process takes the same decision. A driver JVM that a
    launcher or an earlier session started is still running: nothing is
    launched, and CDS does not apply."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None:
        yield confs
        return
    spark_home = _find_spark_home()
    try:
        conf_dir = launch_conf_dir(spark_home)
        key = conf_dir and archive_key(spark_home, confs[JAVA_OPTIONS])
        archive = key and shared_archive(key, [sys.executable, "-m", __name__, json.dumps(confs)],
                                         dict(os.environ, SPARK_CONF_DIR=conf_dir))
    except OSError:
        # an unwritable cache directory: start without the archive
        archive = None
    if not archive:
        yield confs
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield {**confs, JAVA_OPTIONS: f"{confs[JAVA_OPTIONS]} -XX:SharedArchiveFile={archive}"}
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _shout(batches):
    import pyarrow.compute as pc

    for batch in batches:
        yield batch.set_column(1, "v", pc.utf8_upper(batch.column(1)))


def train(confs: dict[str, str], tmp: str) -> int:
    """Run a tiny session whose JVM dumps the classes it loaded to tmp when
    it exits: an Arrow Python stage, a shuffle, a partitioned parquet
    write and its read-back. Returns the JVM's exit status."""
    import tempfile

    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    confs = {**confs, JAVA_OPTIONS: f"{confs[JAVA_OPTIONS]} -XX:ArchiveClassesAtExit={tmp}"}
    spark = SparkSession.builder.config(map=confs).getOrCreate()
    gateway = SparkContext._gateway
    try:
        with tempfile.TemporaryDirectory() as out:
            table = os.path.join(out, "table")
            rows = spark.createDataFrame([(i, f"row {i}") for i in range(64)], "k long, v string")
            upper = rows.mapInArrow(_shout, rows.schema)
            upper.groupBy((F.col("k") % 4).alias("part")).agg(F.max("v").alias("v")) \
                .write.partitionBy("part").parquet(table)
            spark.read.parquet(table).collect()
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        # the JVM writes the archive on its way out, also after a failed
        # job: exit only once it is done
        code = gateway.proc.wait()
    return code


if __name__ == "__main__":
    sys.exit(train(json.loads(sys.argv[1]), sys.argv[2]))
