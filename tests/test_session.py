"""The session's defaults: the driver JVM's JIT policy and the sizing to
the box.

The JIT policy is read back from the running JVM: its command line
(``RuntimeMXBean.getInputArguments``) and the value HotSpot took
(``HotSpotDiagnosticMXBean``). A user's ``extraJavaOptions`` come after
the policy on the command line, so they are kept whole and can restore
C2. That case needs its own JVM, so it runs ``get_spark`` in a
subprocess: ``getOrCreate`` cannot relaunch the session fixture's JVM.
So do the class-data sharing cases: a fresh cache, where the first
``get_spark`` builds the archive (the suite's one real build; the
build's other paths run against stub commands in test_cds.py), and a
real ``spark-defaults.conf``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

from intelligent_document_processing_on_aws_spark.session import (
    MAX_DRIVER_MEMORY_MB,
    driver_memory,
    jit_seconds,
    local_slots,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jvm_flags(spark) -> tuple[list[str], dict[str, str]]:
    """The JVM's input arguments, and the JIT settings HotSpot took."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return (list(mf.getRuntimeMXBean().getInputArguments()),
            {f: hotspot.getVMOption(f).getValue()
             for f in ("TieredStopAtLevel", "ReservedCodeCacheSize")})


# a fresh get_spark JVM with the given extraJavaOptions, read back
_PROBE = textwrap.dedent("""
    import json, sys

    from intelligent_document_processing_on_aws_spark.session import get_spark
    from test_session import _jvm_flags

    spark = get_spark("jit-probe", master="local[1]",
                      **{"spark.driver.extraJavaOptions": sys.argv[1]})
    print(json.dumps(_jvm_flags(spark)))
    spark.stop()
""")


def _levels(args: list[str]) -> list[str]:
    return [a.split("=", 1)[1] for a in args if a.startswith("-XX:TieredStopAtLevel=")]


def test_session_jvm_runs_c1_and_keeps_user_options(spark):
    args, flags = _jvm_flags(spark)
    assert _levels(args) == ["1"]
    # C1-only mode alone would have shrunk the code cache to 48m
    assert flags == {"TieredStopAtLevel": "1", "ReservedCodeCacheSize": str(240 << 20)}
    # the conftest's extraJavaOptions survive whole
    assert any(a.startswith("-Dderby.system.home=") for a in args)


def _run_probe(script: str, args: list[str], env: dict, cwd) -> list[list]:
    """The JSON lines a probe script printed; a line of anything else
    fails the test, since jobs read their summary from stdout."""
    path = [REPO, os.path.join(REPO, "tests"), os.environ.get("PYTHONPATH")]
    env = dict(env, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(filter(None, path)))
    proc = subprocess.run([sys.executable, "-c", script, *args], capture_output=True,
                          text=True, timeout=300, env=env, cwd=str(cwd))
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.splitlines()]


def test_extra_java_options_restore_c2(tmp_path):
    [(args, flags)] = _run_probe(_PROBE, ["-XX:TieredStopAtLevel=4"], os.environ, tmp_path)
    # the default comes first, the user's option last, and the last one wins
    assert _levels(args) == ["1", "4"] and flags["TieredStopAtLevel"] == "4"


# the thread-count variables as the driver and a Python worker see them
# after get_spark
_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS")
_ENV_PROBE = textwrap.dedent("""
    import json, os

    import pandas as pd

    from intelligent_document_processing_on_aws_spark.session import get_spark
    from test_session import _THREAD_VARS

    def seen():
        return {v: os.environ.get(v) for v in _THREAD_VARS}

    def task(batches):
        for _ in batches:
            yield pd.DataFrame({"env": [json.dumps(seen())]})

    spark = get_spark("env-probe", master="local[2]", **{"spark.task.cpus": "2"})
    [row] = spark.range(1).mapInPandas(task, "env string").collect()
    print(json.dumps([seen(), json.loads(row.env)]))
    spark.stop()
""")


def test_get_spark_leaves_thread_variables_unset(tmp_path):
    """get_spark exports no thread-count variable: unset before, they stay
    unset in the driver. In a Python worker, Spark itself sets
    OMP_NUM_THREADS to spark.task.cpus (SPARK-28843) and nothing else."""
    env = {k: v for k, v in os.environ.items() if k not in _THREAD_VARS}
    driver, worker = _run_probe(_ENV_PROBE, [], env, tmp_path)[0]
    assert driver == dict.fromkeys(_THREAD_VARS)
    assert worker == {"OMP_NUM_THREADS": "2", "OPENBLAS_NUM_THREADS": None}


def test_jit_seconds_reads_the_driver_jvm(spark):
    # starting the session alone has the JIT compile Spark's own code
    assert jit_seconds(spark) > 0


# get_spark once per argument, each JVM stopped before the next starts, as
# a benchmark cycle does; each JVM logs its class-data sharing to the
# file its argument names
_CDS_PROBE = textwrap.dedent("""
    import json, os, sys

    from pyspark import SparkContext

    from intelligent_document_processing_on_aws_spark.session import cds_archive, get_spark

    for log in sys.argv[1:]:
        spark = get_spark("cds-probe", master="local[1]", **{
            "spark.driver.extraJavaOptions": f"-Xlog:cds=info:file={log}",
            "spark.idp.probe": "from-caller"})
        print(json.dumps([cds_archive(spark), os.environ.get("SPARK_CONF_DIR"),
                          spark.conf.get("spark.idp.probe"),
                          spark.conf.get("spark.idp.defaults", None)]))
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
""")


def _processes_naming(text: str) -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if text.encode() in fh.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_launched_jvms_map_the_archive_they_built(tmp_path):
    """The first get_spark builds the archive, and it and a second
    get_spark in the same process both map it; the build prints nothing
    on stdout and leaves no process behind."""
    cache = tmp_path / "cache"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    logs = [str(tmp_path / f"cds-{i}.log") for i in range(2)]
    try:
        lines = _run_probe(_CDS_PROBE, logs, dict(env, XDG_CACHE_HOME=str(cache)), tmp_path)
        archives = [n for n in os.listdir(cache / "idp-spark" / "cds") if n.endswith(".jsa")]
        assert len(archives) == 1
        archive = str(cache / "idp-spark" / "cds" / archives[0])
        # SPARK_CONF_DIR is restored after each launch
        assert lines == [[archive, None, "from-caller", None]] * 2
        for log in logs:
            text = open(log).read()
            assert "Mapped dynamic region" in text and "mismatch" not in text
        assert not [n for n in os.listdir(cache / "idp-spark" / "cds") if n.endswith(".tmp")]
        assert _processes_naming(str(cache)) == []
    finally:
        shutil.rmtree(cache, ignore_errors=True)


def test_spark_defaults_conf_turns_cds_off(tmp_path):
    """A real conf directory is never hidden: its settings reach the
    session, and the JVM starts without an archive (none is built)."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.idp.defaults from-conf-dir\n")
    cache = tmp_path / "cache"
    lines = _run_probe(_CDS_PROBE, [str(tmp_path / "cds.log")],
                       dict(os.environ, SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(cache)),
                       tmp_path)
    assert lines == [[None, str(conf), "from-caller", "from-conf-dir"]]
    assert "Mapped dynamic region" not in open(tmp_path / "cds.log").read()
    assert not cache.exists()


def test_local_slots():
    assert local_slots("local[4]", 9) == 4
    assert local_slots("local[32]", 9) == 32
    for master in ("local[*]", "local[2,3]", "local", "yarn", "spark://h:7077"):
        assert local_slots(master, 9) == 9


def test_driver_memory_is_60_percent_of_ram_capped_at_24g():
    gib = 2**30
    assert driver_memory(15 * gib) == "9216m"
    assert driver_memory(4 * gib) == f"{int(4 * 1024 * 0.6)}m"
    assert driver_memory(40 * gib) == driver_memory(512 * gib) == f"{MAX_DRIVER_MEMORY_MB}m"
    assert MAX_DRIVER_MEMORY_MB == 24 * 1024
