"""Python-worker daemon of the engine: pyspark's daemon, minus a per-task
re-read of every zip archive on ``sys.path``.

Before each task pyspark's worker calls ``importlib.invalidate_caches()``.
CPython's ``zipimporter.invalidate_caches()`` re-parses its archive's
whole central directory in pure Python, and a worker holds one importer
per imported sub-package of ``pyspark.zip`` plus the py4j zip and the
spark-core jar: ~0.18 s of every task, whatever the query. The importer
below re-reads only when the archive's (inode, size, mtime) changed; an
unchanged archive cannot hold a new module, so imports resolve as before.

``session.builder`` names this module in ``spark.python.daemon.module``.
Running it with ``-m`` imports this package in the daemon, once, before
the daemon forks its workers.
"""

import os
import sys
import zipimport

# archive -> stamp of the central directory held in zipimport's cache
_read_at: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


class StableZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips unchanged archives."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _read_at.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = _read_at[self.archive] = stamp


def install() -> None:
    """Route new zip path entries through StableZipImporter and drop the
    plain importers already cached, so the next lookup makes stable ones."""
    # the directories cached so far were read moments ago, at import
    _read_at.update((a, _stamp(a)) for a in zipimport._zip_directory_cache)
    sys.path_hooks[:] = [StableZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[entry]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
