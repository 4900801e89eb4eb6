"""The per-task import-cache fix in ``grisp_spark/__init__.py``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 that re-read every zip archive on the import
path. The package makes the re-read conditional on the archive's
(mtime, size). These tests pin the contract without Spark, and pin
that the install actually runs inside a Python worker."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import grisp_spark  # noqa: F401  (installs the stat-checked invalidation)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 invalidates zip caches lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    mod_a, mod_b = "_grisp_zip_probe_a", "_grisp_zip_probe_b"
    _write_zip(archive, [mod_a])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(mod_a).NAME == mod_a
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # a rewrite (new size, new mtime) is picked up
        _write_zip(archive, [mod_a, mod_b])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(mod_b).NAME == mod_b
    finally:
        sys.path[:] = saved_path
        for name in (mod_a, mod_b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_worker_does_not_reread_archives(spark):
    """Inside a Python worker that has loaded a grisp kernel module,
    back-to-back invalidations read no zip directory. This fails if
    the install moves somewhere workers do not execute."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        from grisp_spark.kg import linking  # noqa: F401

        importlib.invalidate_caches()  # settle: a first sight may read once
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zip_importers": [zips]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, zip_importers long")
        .collect()[0]
    )
    # the worker imports pyspark from pyspark.zip: without zip
    # importers the probe would pass vacuously
    assert row.zip_importers > 0
    assert row.reads == 0
