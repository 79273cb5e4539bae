"""PySpark worker daemon whose zip-import cache invalidation is lazy.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 that
makes each ``zipimporter`` re-read its archive's whole directory, and the
worker holds one importer per pyspark package imported from
``pyspark.zip`` -- a fixed re-read tax on every task. Here an archive is
re-read only when its size or mtime changed since the last read, so a
pyFile zip replaced on disk is still picked up. The daemon installs this
and then runs the stock ``pyspark.daemon.manager``; its forked workers
inherit it. Importing this module changes nothing.
"""
import os
import zipimport

from pyspark import daemon

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps = {}  # archive -> (st_size, st_mtime_ns) at its last re-read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self):
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None \
            and _read_stamps.get(self.archive) == stamp:
        # another importer of this archive may have re-read it already
        self._files = cached
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install_lazy_invalidation():
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install_lazy_invalidation()
    daemon.manager()
