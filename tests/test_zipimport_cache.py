"""The zip-import invalidation contract of ``_zipimport_cache``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.13 each ``zipimporter`` then re-reads its
whole archive directory (pyspark.zip: ~8 ms, 18 times a task). The
engine package makes that re-read conditional on the archive changing.
The unit tests pin the contract on a zip built here; the Spark test
checks that the fix is live inside a real Python worker.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import airflow_kafka_spark_spark  # noqa: F401  (installs the fix)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_STORED) as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip with a module and a package on ``sys.path``, both imported,
    so the archive has two importers (its root and the package path),
    as pyspark.zip has one per imported sub-package."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(
        archive,
        {"zc_probe_a.py": "X = 1\n", "zc_probe_pkg/__init__.py": "Y = 2\n"},
    )
    monkeypatch.syspath_prepend(archive)
    import zc_probe_a  # noqa: F401
    import zc_probe_pkg

    try:
        importlib.import_module("zc_probe_pkg.absent")
    except ModuleNotFoundError:
        pass  # caches an importer for the package's path inside the zip
    assert any(
        isinstance(f, zipimport.zipimporter) and f.archive == archive and f.prefix
        for f in sys.path_importer_cache.values()
    ), zc_probe_pkg.__path__
    yield archive
    for name in [m for m in sys.modules if m.startswith("zc_probe")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls per archive."""
    counts: dict[str, int] = {}
    stock = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    importlib.invalidate_caches()  # at most one read stamps the archive
    assert reads.get(zip_on_path, 0) <= 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.get(zip_on_path, 0) == 0
    import zc_probe_a

    assert importlib.reload(zc_probe_a).X == 1


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(zip_on_path, reads, change):
    importlib.invalidate_caches()
    before = os.stat(zip_on_path)
    if change == "size":
        modules = {"zc_probe_a.py": "X = 1\n", "zc_probe_new.py": "Z = 3\n"}
    else:  # same byte count, a different module: only the mtime tells
        modules = {"zc_probe_b.py": "X = 9\n", "zc_probe_pkg/__init__.py": "Y = 2\n"}
    _write_zip(zip_on_path, modules)
    st = os.stat(zip_on_path)
    mtime = before.st_mtime_ns + 10**9
    os.utime(zip_on_path, ns=(st.st_atime_ns, mtime))
    assert (os.stat(zip_on_path).st_size == before.st_size) == (change == "mtime")
    reads.clear()
    importlib.invalidate_caches()
    new = "zc_probe_new" if change == "size" else "zc_probe_b"
    mod = importlib.import_module(new)
    assert reads.get(zip_on_path, 0) >= 1
    assert mod.__name__ == new


def test_deleted_archive_behaves_as_stock(zip_on_path, reads):
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    # stock 3.11: the failed re-read drops the cached directory
    assert zip_on_path not in zipimport._zip_directory_cache
    for f in sys.path_importer_cache.values():
        if isinstance(f, zipimport.zipimporter) and f.archive == zip_on_path:
            assert not getattr(f, "_files", {})
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_probe_unseen")


def test_python_workers_do_not_reread_pyspark_zip(spark):
    """Inside a real worker, after the engine package is imported, a
    task-start invalidation re-reads no archive. The first invalidation
    after the import stamps each archive; the second is what every later
    task of the reused worker pays."""

    def probe(batches):
        import importlib
        import zipimport

        import pyspark

        import airflow_kafka_spark_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        counts = []
        stock = zipimport._read_directory

        def counting(archive):
            counts.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        from_zip = isinstance(getattr(pyspark, "__loader__", None), zipimport.zipimporter)
        yield pa.RecordBatch.from_pydict(
            {"from_zip": [from_zip], "rereads": [len(counts)]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "from_zip boolean, rereads long")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["rereads"] == 0, rows
