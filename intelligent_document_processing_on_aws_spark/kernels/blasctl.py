"""Pin BLAS to one thread: Spark owns the parallelism, not OpenBLAS.

The numpy matmuls left in this engine are tiny: the JPEG codec's 8x8
DCT/IDCT products (kernels/jpeg_codec.py), run inside the Python
workers, one worker per Spark task slot. OpenBLAS's default behavior —
spin up a thread pool per process and busy-wait on it — would give every
worker a pool as wide as the box, on cores Spark has already handed
out. Small GEMMs measured 20-100x SLOWER under that contention (200 reps
of (512,512)@(512,2) at 2.7 s multi-threaded vs 0.18 s pinned). One BLAS
thread per task is the standard setting whenever a task scheduler
(Spark, dask, ray) owns the cores.

Determinism note: OpenBLAS GEMM partitions OUTPUT tiles across threads,
so each output element's accumulation order is thread-count-invariant;
the pin is a pure speed knob.

Two mechanisms, both needed:
* ``OPENBLAS_NUM_THREADS`` env var — read by OpenBLAS at load time;
  covers Python WORKERS (forked after ``get_spark`` sets it) but not a
  driver whose numpy was already imported by pyspark.
* ``openblas_set_num_threads64_`` via ctypes on the already-loaded
  library — covers the DRIVER at runtime.
"""

from __future__ import annotations

import ctypes
import glob
import os

_DONE = False


def limit_blas_threads(n: int = 1) -> None:
    """Idempotent: env var for future loads + ctypes for the current one.

    An EXPLICIT user OPENBLAS_NUM_THREADS is respected everywhere: in
    that case neither the env var nor the loaded library is touched, so
    driver and forked workers stay consistent with the user's choice
    (pinning only the driver while workers kept the user's count would
    reproduce the contention this module exists to prevent)."""
    global _DONE
    if "OPENBLAS_NUM_THREADS" in os.environ:
        _DONE = True
        return
    os.environ["OPENBLAS_NUM_THREADS"] = str(n)
    os.environ.setdefault("OMP_NUM_THREADS", str(n))
    if _DONE:
        return
    try:
        import numpy as np

        libdir = os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs")
        for so in glob.glob(os.path.join(libdir, "libopenblas*")):
            lib = ctypes.CDLL(so)
            for fn in ("openblas_set_num_threads64_",
                       "openblas_set_num_threads"):
                f = getattr(lib, fn, None)
                if f is not None:
                    f(ctypes.c_int(int(n)))
                    _DONE = True
                    return
    except Exception:  # noqa: BLE001 — non-OpenBLAS numpy: nothing to pin
        pass
    _DONE = True
