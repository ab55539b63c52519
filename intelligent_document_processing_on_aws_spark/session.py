"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched Python stages, AQE with
skew-join handling (giant-host URL skew per SURVEY.md §4), and shuffle
partitioning sized to cores locally. On a real cluster pass
shuffle_partitions ~= 2-3x total cores (a job's own flag, such as
jobs/extract.py --salt-partitions): the builder's value overrides a
spark-submit --conf spark.sql.shuffle.partitions.

Sized to the box: local[N] runs one task slot per core this process may
use (SPARK_GRAFT_CPUS overrides), and the driver heap is 60 % of physical
RAM, at most 24g, since local-mode Python workers share that RAM.

JIT policy: a driver JVM that get_spark launches compiles with C1 only
(-XX:TieredStopAtLevel=1 in spark.driver.defaultJavaOptions), with the
tiered default code cache of 240m. The jobs are one-shot, and C2
compiling Spark's own code cost more CPU than their tasks; C1 roughly
halves the CPU per document (README, "What the driver JVM costs"). C2
comes back with -XX:TieredStopAtLevel=4 in spark.driver.extraJavaOptions,
which the launcher places after the default options. Under spark-submit
the driver JVM is already running, so pass
--driver-java-options "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
there instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# where Python imports this package from: the checkout, or the zip the
# package was loaded from under spark-submit --py-files
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Arrow batches bounded so wide html blobs don't blow executor mem
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # C1-only JIT (module docstring); a user's extraJavaOptions follow on
    # the command line, and HotSpot keeps a flag's last value. C1-only
    # mode would shrink the code cache to 48m, which a JVM that reruns a
    # job fills, then evicts and recompiles: keep the tiered 240m
    "spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    # the ContextCleaner only drops unreferenced checkpoint/shuffle/
    # broadcast blocks after a JVM GC notices the references are gone;
    # with a large heap organic GCs are rare and the default periodic GC
    # is 30min, so a long multi-query session accumulates every
    # localCheckpoint RDD it ever made. One System.gc() a minute keeps
    # block-manager storage bounded at negligible cost (applies to any
    # long-lived driver, not a local[32] tune).
    "spark.cleaner.periodicGC.interval": "60s",
}

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


def get_spark(app: str = "idp-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra: str) -> SparkSession:
    # Spark owns the parallelism: pin BLAS to 1 thread in this process
    # (ctypes) and in the Python workers it forks (env var) — see
    # kernels/blasctl.py for the measured 20-100x small-GEMM effect.
    from .kernels.blasctl import limit_blas_threads

    limit_blas_threads(1)
    # Python workers import the package from any working directory: a JVM
    # started from here inherits this PYTHONPATH, and local-mode workers
    # merge it into their path. Cluster executors keep their own settings.
    path = os.environ.get("PYTHONPATH")
    if IMPORT_ROOT not in (path or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = IMPORT_ROOT + (os.pathsep + path if path else "")
    cores = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cores))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = local_slots(master, int(cpus) if cpus.isdigit() else cores)
    builder = SparkSession.builder.appName(app).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    builder = builder.config("spark.driver.memory", driver_memory(ram))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
