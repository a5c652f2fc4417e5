"""PySpark daemon entry (``spark.python.daemon.module``, set by
:func:`dynamic_spark_spark.session.get_spark`).

Every Python task calls ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` after a worker started become importable. Before Python 3.13
that call makes every ``zipimport.zipimporter`` re-parse its archive's whole
central directory: a warm worker holds a dozen importers on ``pyspark.zip``
plus the spark-core jar and py4j, about 21,000 entries, 0.1-0.3 s per
task. This entry puts a stat guard on that re-read, then runs PySpark's own
daemon: an importer re-reads only when its archive's ``(st_mtime_ns,
st_size)`` moved since its own directory was read, or when ``stat`` fails.
The stamp is held per importer, so every importer of a rewritten archive
still refreshes. Python 3.13 made the re-read lazy; there nothing is patched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive -> stamp of the read now held in ``zipimport._zip_directory_cache``
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_guard() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-guarded form
    (idempotent; a no-op on Python 3.13 and later)."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_stat_stamp", None):
            return
        cache = zipimport._zip_directory_cache
        if stamp is not None and stamp == _read_stamps.get(self.archive) and self.archive in cache:
            # another importer of this archive already re-read it at this stamp
            self._files = cache[self.archive]
        else:
            reread(self)
            if self.archive not in cache:
                stamp = None  # a failed read keeps no stamp: retried next call
            _read_stamps[self.archive] = stamp
        self._stat_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_zip_guard()
    # pyspark.daemon picks its worker module from argv[1] at import
    from pyspark import daemon

    # stamp the importers the daemon holds now, once, so forked workers
    # inherit them instead of each paying the first re-read
    importlib.invalidate_caches()
    daemon.manager()
