"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the extraction workload: Arrow-batched Python stages, AQE with
skew-join handling (giant-host URL skew per SURVEY.md §4), and shuffle
partitioning sized to cores locally (on a real cluster set
spark.sql.shuffle.partitions ~= 2-3x total cores via spark-submit conf).
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
    # single-JVM local mode: all "executors" share the driver heap
    "spark.driver.memory": "24g",
    # the ContextCleaner only drops unreferenced checkpoint/shuffle/
    # broadcast blocks after a JVM GC notices the references are gone;
    # with a 24g heap organic GCs are rare and the default periodic GC
    # is 30min, so a long multi-query session accumulates every
    # localCheckpoint RDD it ever made. One System.gc() a minute keeps
    # block-manager storage bounded at negligible cost (applies to any
    # long-lived driver, not a local[32] tune).
    "spark.cleaner.periodicGC.interval": "60s",
}


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
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count() or 8
        shuffle_partitions = int(master.split("[")[1].rstrip("]")) if "[" in master and master.split("[")[1].rstrip("]").isdigit() else int(n)
    builder = SparkSession.builder.appName(app).master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
