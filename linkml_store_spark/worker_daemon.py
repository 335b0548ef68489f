"""The Python worker daemon for sessions built by ``session.get_spark``.

Spark starts one daemon per executor (``python -m <spark.python.daemon.module>``)
and forks every Python worker from it. This module is that daemon: it
installs a stat-guarded ``zipimporter.invalidate_caches`` and then runs
``pyspark.daemon.manager()`` unchanged.

Why: before every task pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Under CPython 3.11 (measured; 3.10 added
the method) that makes every cached ``zipimporter`` re-read its archive's
central directory, once per importer: ``pyspark.zip`` (one importer per
imported subpackage), the py4j zip and the spark-core jar. That was about
250 ms of worker CPU per task before any user code ran. The guard re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp of the last read,
so a rewritten archive or a new ``addPyFile`` zip is still picked up and
only the re-reads of unchanged archives go. Installed before the first
fork, it covers every worker, every task and every kernel.
"""

from __future__ import annotations

import os
import warnings
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_guard() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with the stat-guarded
    version; return whether the guard is in place.

    The stamp is taken before the read it labels, so an archive that
    changes during a read is read again on the next call. Importers of one
    archive share its directory: after one read at a stamp, the others
    adopt that read instead of repeating it.
    """
    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if original is None:
        warnings.warn(
            "zipimport.zipimporter has no invalidate_caches; Python workers "
            "keep pyspark's per-task import-cache refresh",
            RuntimeWarning,
            stacklevel=2,
        )
        return False
    cache = zipimport._zip_directory_cache
    # archive path -> (stat stamp, the directory dict read at that stamp)
    read_at: dict = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        seen = read_at.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = cache[self.archive] = seen[1]
            return
        original(self)
        files = cache.get(self.archive)
        if stamp is not None and files is not None:
            read_at[self.archive] = (stamp, files)
        else:
            read_at.pop(self.archive, None)

    cls.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    import importlib

    install_zip_guard()
    from pyspark import daemon

    # stamp every archive the daemon has open, so forked workers start
    # with a read on record and their first task re-reads nothing
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
