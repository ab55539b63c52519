"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched Python stages, bounded
Arrow batches, and shuffle partitioning sized to the local task slots.
AQE with skew-join handling (giant-host URL skew per SURVEY.md §4) and
partition coalescing is Spark's own default, so it is not restated here.

One precedence rule covers every setting get_spark makes:
1. the caller's explicit master= and **extra;
2. what a launcher already set: spark-submit --master, --name and --conf,
   and spark-defaults.conf (read from the driver JVM a launcher started);
3. the engine's defaults: local[N] with one task slot per core this
   process may use (SPARK_GRAFT_CPUS overrides), shuffle partitions equal
   to the slots (set only for a local master), a driver heap of 60 % of
   physical RAM, at most 24g, since local-mode Python workers share that
   RAM, the C1 JIT options below, the class-data sharing archive below,
   and DEFAULT_CONFS. The heap, the JIT options and the archive only take
   effect when the driver JVM starts, so get_spark sets them only when it
   starts the JVM itself: under a launcher, or when an earlier session's
   JVM is still running, they would report a heap and options the running
   JVM does not have.

Class-data sharing (cds.py): a driver JVM that get_spark launches maps a
dynamic AppCDS archive of the classes a Spark session loads
(-XX:SharedArchiveFile in spark.driver.defaultJavaOptions), which takes
about 5 s off each start (README, "Class-data sharing"). The first start
for a JDK, jar set and JIT options builds the archive into
$XDG_CACHE_HOME/idp-spark/cds (or ~/.cache/...). A conf directory holding
a real file (spark-defaults.conf, spark-env.sh, log4j2.properties) turns
it off, since CDS cannot share classes with a non-empty directory on the
classpath, and -Xshare:off in spark.driver.extraJavaOptions turns it off
too (HotSpot keeps a flag's last value). Under spark-submit, pass
--driver-java-options "-XX:SharedArchiveFile=<archive>": it maps only
when the launcher's classpath, conf directory included, matches the one
the archive was built with.

JIT policy: a driver JVM that get_spark launches compiles with C1 only
(-XX:TieredStopAtLevel=1 in spark.driver.defaultJavaOptions), with the
tiered default code cache of 240m. The jobs are one-shot, and C2
compiling Spark's own code cost more CPU than their tasks; C1 roughly
halves the CPU per document (README, "What the driver JVM costs"). C2
comes back with -XX:TieredStopAtLevel=4 in spark.driver.extraJavaOptions,
which the launcher places after the default options. Under spark-submit
the driver JVM is already running and takes no JVM options, so pass
--driver-java-options "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
there instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .cds import sharing

# where Python imports this package from: the checkout, or the zip the
# package was loaded from under spark-submit --py-files
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Arrow batches bounded so wide html blobs don't blow executor mem
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # the engine's default is the host's zone
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # the ContextCleaner only drops unreferenced checkpoint/shuffle/
    # broadcast blocks after a JVM GC notices the references are gone;
    # with a large heap organic GCs are rare and the default periodic GC
    # is 30min, so a long multi-query session accumulates every
    # localCheckpoint RDD it ever made. One System.gc() a minute keeps
    # block-manager storage bounded at negligible cost (applies to any
    # long-lived driver, not a local[32] tune).
    "spark.cleaner.periodicGC.interval": "60s",
}

# C1-only JIT (module docstring); a user's extraJavaOptions follow on the
# command line, and HotSpot keeps a flag's last value. C1-only mode would
# shrink the code cache to 48m, which a JVM that reruns a job fills, then
# evicts and recompiles: keep the tiered 240m
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

# the driver heap's ceiling, whatever the box
MAX_DRIVER_MEMORY_MB = 24 * 1024


def driver_memory(physical_bytes: int) -> str:
    """spark.driver.memory for a box with this much RAM: 60 % of it, at
    most MAX_DRIVER_MEMORY_MB. In local mode all "executors" share the
    driver heap, and the Python workers need the rest of the RAM."""
    return f"{min(MAX_DRIVER_MEMORY_MB, (physical_bytes * 3 // 5) >> 20)}m"


def local_slots(master: str, default: int) -> int:
    """Task slots of a local[N] master; default for any other master
    (local[*], local[N,F], a cluster url)."""
    n = master.partition("[")[2].rstrip("]")
    return int(n) if n.isdigit() else default


def jit_seconds(spark: SparkSession) -> float:
    """Time the driver JVM's JIT compilers have spent so far, in seconds
    (CompilationMXBean.getTotalCompilationTime)."""
    management = spark.sparkContext._jvm.java.lang.management
    return management.ManagementFactory.getCompilationMXBean() \
        .getTotalCompilationTime() / 1000


def cds_archive(spark: SparkSession) -> str | None:
    """The class-data sharing archive the driver JVM was started with (its
    SharedArchiveFile flag, read through HotSpotDiagnosticMXBean), or None."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return hotspot.getVMOption("SharedArchiveFile").getValue() or None


def _launcher_conf() -> dict[str, str]:
    """The Spark settings of the launcher that started the driver JVM
    (spark-submit sets PYSPARK_GATEWAY_PORT); empty when get_spark is to
    start the JVM itself."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(app: str = "idp-spark", master: str | None = None,
              **extra: str) -> SparkSession:
    # Python workers import the package from any working directory: a JVM
    # started from here inherits this PYTHONPATH, and local-mode workers
    # merge it into their path. Cluster executors keep their own settings.
    path = os.environ.get("PYTHONPATH")
    if IMPORT_ROOT not in (path or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = IMPORT_ROOT + (os.pathsep + path if path else "")
    launched = _launcher_conf()
    explicit = {"spark.master": master, **extra} if master else extra
    cores = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
    master = master or launched.get("spark.master", f"local[{cpus}]")
    defaults = {"spark.app.name": app, "spark.master": master, **DEFAULT_CONFS}
    if not launched:
        # JVM-launch settings: a launcher's driver JVM is already running
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        defaults["spark.driver.memory"] = driver_memory(ram)
        defaults["spark.driver.defaultJavaOptions"] = JIT_OPTIONS
    if master.startswith("local"):
        slots = local_slots(master, int(cpus) if cpus.isdigit() else cores)
        defaults["spark.sql.shuffle.partitions"] = str(slots)
    confs = {k: v for k, v in defaults.items() if k not in launched}
    with sharing(confs) as confs:
        return SparkSession.builder.config(map={**confs, **explicit}).getOrCreate()
