"""Zip import caches in the Python workers (session._refresh_zip_dirs_lazily).

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task; before CPython 3.13 each ``zipimporter`` then re-reads its
archive's directory. Importing the package inside a task makes those
calls re-read an archive only when it changed; the driver is untouched.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from filefilter_spark import session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ invalidate_caches only drops the cached directory",
)
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "ffzip_mods.zip")
    _write_zip(archive, {"ffzip_one": "X = 1\n"})
    # restore the stock method and the driver's empty task context after
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    try:
        session._refresh_zip_dirs_lazily()
        assert importlib.import_module("ffzip_one").X == 1
        importlib.invalidate_caches()  # the first call reads each archive

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory",
            lambda a: reads.append(a) or read_directory(a),
        )
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"ffzip_one": "X = 1\n", "ffzip_two": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("ffzip_two").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.modules.pop("ffzip_one", None)
        sys.modules.pop("ffzip_two", None)


def test_worker_task_skips_unchanged_zip_rereads(spark):
    """In a task, once the package is imported, a repeated
    ``invalidate_caches`` reads no zip directory (stock 3.11: one read
    per ``zipimporter``, 14-16 on a stock ``pyspark.zip`` worker)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import filefilter_spark  # noqa: F401

        for _ in batches:
            pass
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({"zip_importers": [n_zip], "reads": [len(reads)]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "zip_importers long, reads long")
        .collect()[0]
    )
    if row.zip_importers == 0:
        pytest.skip("the Python workers import nothing from a zip archive")
    assert row.reads == 0


def test_driver_keeps_stock_invalidate_caches():
    """The package is imported here, on the driver: nothing installed,
    and an explicit call outside a task installs nothing either."""
    stock = "zipimporter.invalidate_caches"
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == stock
    session._refresh_zip_dirs_lazily()
    assert zipimport.zipimporter.invalidate_caches.__qualname__ == stock
