"""Spark's Python worker daemon, without the per-task re-read of zip archives.

Spark 4.1.2's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.setup_spark_files``).  On Python 3.11 that makes
each zipimporter in ``sys.path_importer_cache`` re-read its archive's
directory: 16 importers over the 1,328 entries of ``pyspark.zip``, about
0.2 s of CPU per task.  Here a zipimporter keeps its directory while the
archive's ``(st_mtime_ns, st_size)`` equals the stamp taken when that
directory was last read, and re-reads it as before once the archive has
changed.  ``importlib.invalidate_caches()`` still invalidates every
``FileFinder``, so files shipped with ``addFile``/``addPyFile`` are found.

``session.get_spark`` runs this module as ``spark.python.daemon.module``
on masters whose executors share the driver's filesystem.
"""

from __future__ import annotations

import os
import zipimport

# Archive path -> (stamp when its directory was last read, that directory).
_READ: dict[str, tuple[tuple[int, int] | None, dict]] = {}
# Directory reads this process's invalidate_caches let through.
dir_reads = 0
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive.  A missing archive is always handed to the stock method."""
    global dir_reads
    stamp = _stamp(self.archive)
    read = _READ.get(self.archive)
    if stamp is not None and read is not None and read[0] == stamp:
        self._files = read[1]
        return
    dir_reads += 1
    _stock_invalidate(self)
    _READ[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp every archive
    whose directory this process has already read."""
    for archive, files in zipimport._zip_directory_cache.items():
        _READ[archive] = (_stamp(archive), files)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    from pyspark import daemon  # imports the worker, reading pyspark.zip

    install()
    daemon.manager()


if __name__ == "__main__":
    # Run through the package module, so that a UDF importing
    # mapreducer_spark.pyworker sees this process's state.
    from mapreducer_spark.pyworker import main as _main

    _main()
