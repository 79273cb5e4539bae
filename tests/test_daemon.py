"""The worker daemon (pdfminer_spark/spark/daemon.py): Spark's source
zips move behind an installed copy of the same release, Python tasks stop
re-reading pyspark.zip, and a zip replaced on disk is still re-read."""
import fnmatch
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from conftest import REPO
from pdfminer_spark.spark.daemon import SOURCE_ZIPS, prefer_installed


def test_tasks_do_not_reread_zip_directories(spark):
    """Each task counts the zip directory reads one
    importlib.invalidate_caches() makes in its worker. With the stock
    daemon on CPython 3.11 that is one per pyspark package imported from
    pyspark.zip (16). get_spark's daemon imports pyspark from an installed
    copy of the same release when there is one, and re-reads a zip only
    when it changed on disk, so either way it is none."""

    def count_rereads(batches):
        import importlib
        import zipimport

        import pandas as pd

        stock = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        yield pd.DataFrame({"rereads": [len(calls)]})

    counts = [r.rereads for r in spark.range(0, 16, numPartitions=16)
              .mapInPandas(count_rereads, "rereads long").collect()]
    assert counts == [0] * 16


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(name + ".py", "NAME = %r\n" % name)


def test_lazy_invalidation_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    from pdfminer_spark.spark import daemon

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["lazyzip_a"])
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    try:
        assert importlib.import_module("lazyzip_a").NAME == "lazyzip_a"
        daemon.install_lazy_invalidation()
        importlib.invalidate_caches()  # first call: nothing stamped yet
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []  # untouched zip: no re-read

        _write_zip(archive, ["lazyzip_a", "lazyzip_b"])
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("lazyzip_b").NAME == "lazyzip_b"
    finally:
        zipimport.zipimporter.invalidate_caches = stock_invalidate
        sys.path_importer_cache.pop(archive, None)
        for name in ("lazyzip_a", "lazyzip_b"):
            sys.modules.pop(name, None)


def test_importing_the_daemon_module_changes_nothing():
    """Only running the module as the daemon installs the lazy
    invalidation and reorders sys.path (a fresh interpreter: this one may
    have imported it)."""
    code = ("import sys, zipimport\n"
            "stock = zipimport.zipimporter.invalidate_caches\n"
            "path = list(sys.path)\n"
            "import pdfminer_spark.spark.daemon\n"
            "assert zipimport.zipimporter.invalidate_caches is stock\n"
            "assert sys.path == path\n")
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120,
                   cwd=REPO)


PYSPARK = "4.1.2"
PY4J = "0.10.9.9"


def _source_zips(lib):
    """Spark's python/lib: pyspark.zip and py4j-*-src.zip, no bytecode."""
    os.makedirs(lib)
    zips = []
    for (name, package, version) in (
            ("pyspark.zip", "pyspark", PYSPARK),
            ("py4j-%s-src.zip" % PY4J, "py4j", PY4J)):
        path = os.path.join(lib, name)
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(package + "/__init__.py", "")
            zf.writestr(package + "/version.py",
                        "__version__: str = %r\n" % version)
        zips.append(path)
    return zips


def _installed(site, pyspark=PYSPARK, py4j=PY4J,
               pyspark_files=("daemon.py", "worker.py")):
    """A site-packages directory holding pyspark and py4j."""
    for (package, version, files) in (("pyspark", pyspark, pyspark_files),
                                      ("py4j", py4j, ())):
        if version is None:
            continue
        os.makedirs(os.path.join(site, package))
        for name in ("__init__.py",) + tuple(files):
            open(os.path.join(site, package, name), "w").close()
        with open(os.path.join(site, package, "version.py"), "w") as fp:
            fp.write("__version__ = %r\n" % version)
    return site


def _daemon_path(tmp_path, site):
    """A daemon's sys.path as Spark builds it: the working directory,
    Spark's zips, PYTHONPATH, the standard library, site-packages."""
    (pyspark_zip, py4j_zip) = _source_zips(str(tmp_path / "lib"))
    return ([str(tmp_path), pyspark_zip, py4j_zip, REPO,
             os.path.dirname(os.__file__)] + ([site] if site else []),
            [pyspark_zip, py4j_zip])


def test_same_release_installed_moves_the_zips_to_the_end(tmp_path):
    site = _installed(str(tmp_path / "site"))
    (path, zips) = _daemon_path(tmp_path, site)
    assert prefer_installed(path) == [
        e for e in path if e not in zips] + zips


@pytest.mark.parametrize("installed", [
    {"pyspark": "4.1.1", "py4j": "0.10.9.8"},  # another release
    {"pyspark_files": (), "py4j": None},  # a Connect-only client
    {"pyspark_files": ("daemon.py",), "py4j": None},
    None,  # no installed copy
], ids=["other-version", "connect-only", "no-worker", "none"])
def test_path_without_a_same_release_copy_is_unchanged(tmp_path, installed):
    site = (None if installed is None
            else _installed(str(tmp_path / "site"), **installed))
    (path, _) = _daemon_path(tmp_path, site)
    assert prefer_installed(path) == path


def test_an_earlier_copy_of_another_release_keeps_the_zips(tmp_path):
    """The copy that would import once the zips move is the one that
    must match, not a later one on the path."""
    old = _installed(str(tmp_path / "old"), pyspark="3.5.0", py4j="0.10.9.7")
    site = _installed(str(tmp_path / "site"))
    (path, _) = _daemon_path(tmp_path, site)
    path.insert(3, old)
    assert prefer_installed(path) == path


def test_workers_import_pyspark_from_the_installed_copy(spark):
    """With an installed copy of Spark's pyspark and py4j release on the
    driver's path, tasks import both outside any zip."""
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    zips = sorted(os.path.join(lib, n) for n in os.listdir(lib)
                  if any(fnmatch.fnmatch(n, p) for (p, _, _) in SOURCE_ZIPS))
    if prefer_installed(zips + sys.path)[-len(zips):] != zips:
        pytest.skip("no installed copy of Spark's pyspark/py4j release")

    def origins(batches):
        import py4j
        import pyspark

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"pyspark": [pyspark.__file__],
                            "py4j": [py4j.__file__]})

    rows = spark.range(0, 4, numPartitions=4).mapInPandas(
        origins, "pyspark string, py4j string").collect()
    for r in rows:
        assert ".zip" not in r.pyspark and ".zip" not in r.py4j, r
