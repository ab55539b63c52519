"""Keep zip importers from re-reading archives that have not changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive on every call, once per importer, and a worker's path always
holds ``pyspark.zip``, the py4j zip and the spark-core jar. That re-read was
most of the fixed cost of a Python task (about 0.2 s on a 4-vCPU VM).

Importing this module replaces the method with one that re-reads an archive
only when its ``(st_ino, st_size, st_mtime_ns)`` differs from the last read;
otherwise the importer keeps the directory in ``zipimport``'s own cache.
Every program UDF imports the package in its worker, and workers are reused,
so after its first task a worker reads no unchanged archive again. CPython
3.13 made the method lazy itself, so there this module does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp of the archive when its cached directory was read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _reload(path: str, stamp: tuple[int, int, int] | None) -> dict:
    """What the stdlib method does before 3.13, plus the stamp. The stamp
    is taken before the read, so a write during the read shows up next time."""
    cache = zipimport._zip_directory_cache
    _stamps.pop(path, None)
    try:
        files = zipimport._read_directory(path)
    except zipimport.ZipImportError:
        cache.pop(path, None)
        return {}
    cache[path] = files
    if stamp is not None:
        _stamps[path] = stamp
    return files


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    stamp = _stamp(self.archive)
    if (stamp is not None and stamp == _stamps.get(self.archive)
            and self.archive in zipimport._zip_directory_cache):
        self._files = zipimport._zip_directory_cache[self.archive]
    else:
        self._files = _reload(self.archive, stamp)


if sys.version_info < (3, 13):
    # stamp each archive already cached together with a fresh read of it, so
    # a directory cached before an archive changed is never stamped current
    for _path in list(zipimport._zip_directory_cache):
        _reload(_path, _stamp(_path))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
