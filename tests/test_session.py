"""The session's defaults: the driver JVM's JIT policy and the sizing to
the box.

The JIT policy is read back from the running JVM: its command line
(``RuntimeMXBean.getInputArguments``) and the value HotSpot took
(``HotSpotDiagnosticMXBean``). A user's ``extraJavaOptions`` come after
the policy on the command line, so they are kept whole and can restore
C2. That case needs its own JVM, so it runs ``get_spark`` in a
subprocess: ``getOrCreate`` cannot relaunch the session fixture's JVM.
"""

from __future__ import annotations

import json
import os
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


def test_extra_java_options_restore_c2(tmp_path):
    path = [REPO, os.path.join(REPO, "tests"), os.environ.get("PYTHONPATH")]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(filter(None, path)))
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, "-XX:TieredStopAtLevel=4"],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    args, flags = json.loads(proc.stdout.strip().splitlines()[-1])
    # the default comes first, the user's option last, and the last one wins
    assert _levels(args) == ["1", "4"] and flags["TieredStopAtLevel"] == "4"


def test_jit_seconds_reads_the_driver_jvm(spark):
    # starting the session alone has the JIT compile Spark's own code
    assert jit_seconds(spark) > 0


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
