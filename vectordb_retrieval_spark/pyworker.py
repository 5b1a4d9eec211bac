"""Python-worker daemon: PySpark's stock daemon with stamped zip importers.

Before every task a reused Python worker runs PySpark's
``setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
On Python 3.11 that makes every ``zipimport.zipimporter`` on the path
re-read its whole archive directory: about a dozen importers over
``pyspark.zip`` and two over the spark-core jar, ~0.2 s per task before
any kernel runs.  Here each archive is re-read only when its
``(st_mtime_ns, st_size)`` changed, so a rewritten archive is still seen
and an unchanged one costs a ``stat``.

``session.get_spark`` selects this module through Spark's
``spark.python.daemon.module``; the workers forked by the daemon inherit
the importers.  The session also turns on Unix-domain-socket workers;
the stock ``daemon.manager`` this module runs reads that switch from
``PYTHON_UNIX_DOMAIN_ENABLED``, so nothing here depends on the socket
kind.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (stamp, directory) as last read; shared by every
# importer over the same archive, so a change is read once, not per importer
_read_at: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches()`` re-reads the archive
    only when the archive's ``(st_mtime_ns, st_size)`` changed."""

    def invalidate_caches(self):
        # stat before reading: a write racing the read leaves an old
        # stamp, so the next call reads again rather than going stale
        stamp = _stamp(self.archive)
        seen = _read_at.get(self.archive)
        if stamp is None or seen is None or seen[0] != stamp:
            super().invalidate_caches()
            seen = _read_at[self.archive] = (stamp, self._files)
        self._files = seen[1]


def install() -> None:
    """Put StampedZipImporter in ``sys.path_hooks`` and make every cached
    zipimporter one (in place, so loaders that modules already hold are
    refreshed too), then read each archive once at its current stamp."""
    sys.path_hooks[:] = [
        StampedZipImporter if hook is zipimport.zipimporter else hook for hook in sys.path_hooks
    ]
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StampedZipImporter
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install from the importable copy of this module, so workers see
    # vectordb_retrieval_spark.pyworker.StampedZipImporter, not __main__'s
    from pyspark import daemon

    from vectordb_retrieval_spark import pyworker

    pyworker.install()

    daemon.manager()
