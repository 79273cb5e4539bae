"""The worker daemon's lazy zip-import cache invalidation
(pdfminer_spark/spark/daemon.py): Python tasks stop re-reading
pyspark.zip, and a zip replaced on disk is still re-read."""
import importlib
import subprocess
import sys
import zipfile
import zipimport

from conftest import REPO


def test_tasks_do_not_reread_zip_directories(spark):
    """Each task counts the zip directory reads one
    importlib.invalidate_caches() makes in its worker; with the stock
    daemon on CPython 3.11 that is one per pyspark package imported from
    pyspark.zip (16), with get_spark's daemon it is none."""

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
    invalidation (a fresh interpreter: this one may have imported it)."""
    code = ("import zipimport\n"
            "stock = zipimport.zipimporter.invalidate_caches\n"
            "import pdfminer_spark.spark.daemon\n"
            "assert zipimport.zipimporter.invalidate_caches is stock\n")
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120,
                   cwd=REPO)
