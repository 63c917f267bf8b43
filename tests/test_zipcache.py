"""The zip-directory stamp (``ocr_engine_spark/zipcache.py``): an
unchanged archive is not re-read on invalidation, a rewritten one is,
and Spark's Python workers run it under the stock ``pyspark.daemon``."""

import importlib
import runpy
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from ocr_engine_spark import zipcache

MOD = "zipcache_probe_mod"
# the module patches zipimport only on Python < 3.12
PATCHED = sys.version_info < (3, 12)
needs_patch = pytest.mark.skipif(not PATCHED, reason="applied only on Python < 3.12")


def _write_archive(path, value):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        z.writestr(f"{MOD}.py", f"VALUE = {value}\n")


@needs_patch
def test_unchanged_archive_is_not_reread_and_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_archive(archive, 1)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        mod = importlib.import_module(MOD)
        assert mod.VALUE == 1
        # an importer's first invalidation re-reads and takes the stamp
        importlib.invalidate_caches()
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_archive(archive, 22)
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.reload(mod).VALUE == 22
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop(MOD, None)


@needs_patch
def test_second_execution_does_not_wrap_twice(monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", installed)
    runpy.run_path(zipcache.__file__)
    again = zipimport.zipimporter.invalidate_caches
    assert again.stock is zipcache.invalidate_caches.stock
    assert again.stock.__module__ == "zipimport"


def test_workers_run_the_stamp_under_the_stock_daemon(spark):
    def probe(batches):
        import zipimport

        import ocr_engine_spark  # noqa: F401

        for _ in batches:
            pass
        with open("/proc/self/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        module = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.RecordBatch.from_pydict({"module": [module], "cmdline": [cmdline]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "module string, cmdline string")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["module"] == ("ocr_engine_spark.zipcache" if PATCHED else "zipimport")
    # perfbench's peak_rss_mb counts only processes started as pyspark.daemon
    assert "pyspark.daemon" in rows[0]["cmdline"]
