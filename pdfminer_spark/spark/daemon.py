"""PySpark worker daemon that imports pyspark from bytecode and whose
zip-import cache invalidation is lazy.

Spark starts the daemon with its source zips, ``python/lib/pyspark.zip``
and ``py4j-*-src.zip``, first on ``sys.path``. They hold no ``.pyc``, so
every daemon compiles pyspark and py4j from source before its first task
(``import pyspark.daemon, pyspark.worker``: 1.4-1.5 s from the zip against
0.25-0.27 s from an installed copy, in fresh interpreters on a 4-core VM).
When ``sys.path`` also holds a plain-directory copy of the same package
with the same ``__version__`` -- for pyspark, one that has ``daemon.py``
and ``worker.py``, which a Connect-only client lacks -- the daemon moves
that zip to the end of ``sys.path`` before it imports pyspark; with no
such copy the path stays as it is. Its forked workers inherit the path and the
imported modules, so every pyspark module a worker imports later loads
from the installed copy's bytecode too, and the workers run the same
pyspark files as a driver that imports the installed copy. With
``PYTHONDONTWRITEBYTECODE`` set, this package's own modules still
compile from source in every new worker.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 that
makes each ``zipimporter`` re-read its archive's whole directory, and a
worker holds one importer per package it imported from a zip -- a fixed
re-read tax on every task wherever pyspark still loads from
``pyspark.zip``. Here an archive is re-read only when its size or mtime
changed since the last read, so a pyFile zip replaced on disk is still
picked up.

Run as the daemon, the module does both and then runs the stock
``pyspark.daemon.manager``. Importing it changes nothing.
"""
import fnmatch
import os
import re
import sys
import zipfile
import zipimport

# Spark's source zips (python/lib): the package each one holds, and the
# files an installed copy must have besides its version to replace it
SOURCE_ZIPS = (("pyspark.zip", "pyspark", ("daemon.py", "worker.py")),
               ("py4j-*-src.zip", "py4j", ()))
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)""",
                      re.M)

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_stamps = {}  # archive -> (st_size, st_mtime_ns) at its last re-read


def _version(text):
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive, package):
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read(package + "/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _dir_version(package_dir):
    try:
        with open(os.path.join(package_dir, "version.py")) as fp:
            return _version(fp.read())
    except OSError:
        return None


def _installed_copy(path, package):
    """The package directory the path finder would import, zips aside."""
    for entry in path:
        package_dir = os.path.join(entry, package)
        if os.path.isfile(os.path.join(package_dir, "__init__.py")):
            return package_dir
    return None


def _replaceable(entry, path):
    """Whether ``entry`` is one of Spark's source zips and ``path`` holds
    an installed copy of the same release of its package."""
    name = os.path.basename(entry)
    for (pattern, package, needs) in SOURCE_ZIPS:
        if fnmatch.fnmatch(name, pattern) and os.path.isfile(entry):
            copy = _installed_copy(path, package)
            version = _zip_version(entry, package)
            return (copy is not None and version is not None
                    and _dir_version(copy) == version
                    and all(os.path.isfile(os.path.join(copy, f))
                            for f in needs))
    return False


def prefer_installed(path):
    """``path`` with each of Spark's source zips moved to its end where an
    installed copy of the same release would import instead."""
    moved = [e for e in path if _replaceable(e, path)]
    return [e for e in path if e not in moved] + moved


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
    sys.path[:] = prefer_installed(sys.path)
    install_lazy_invalidation()
    from pyspark import daemon

    daemon.manager()
