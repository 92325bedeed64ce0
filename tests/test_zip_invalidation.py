"""The stat-guarded ``zipimporter.invalidate_caches`` (packaging.py).

Every pyspark worker task ends its set-up in ``importlib.invalidate_caches()``;
on CPython <= 3.11 that re-read every zip archive on ``sys.path`` once per
zipimporter. These tests count the re-reads by wrapping
``zipimport._read_directory`` — counts, never timings.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pdf_extract_spark import packaging

PKG = "zipguard_probe"
needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ re-reads lazily; the guard is off")


def _write_archive(path, extra=False):
    members = {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/mod.py": "VALUE = 1\n",
    }
    if extra:
        members[f"{PKG}/extra.py"] = "VALUE = 2\n"
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


def _count_reads(monkeypatch, archive):
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def archive(tmp_path):
    """A zip holding a package and a subpackage, imported from sys.path,
    so several zipimporters over one archive sit in the importer cache.
    sys.path, sys.modules and sys.path_importer_cache are restored."""
    path = str(tmp_path / "probe.zip")
    _write_archive(path)
    saved_path = sys.path[:]
    saved_modules = set(sys.modules)
    saved_importers = dict(sys.path_importer_cache)
    sys.path.insert(0, path)
    try:
        importlib.import_module(f"{PKG}.sub.mod")
        yield path
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == path]


@needs_311
def test_guard_installed_by_package_import():
    assert getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)


@needs_311
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert len(_importers(archive)) >= 2
    reads = _count_reads(monkeypatch, archive)
    # the first guarded call reads each archive once, not once per importer
    importlib.invalidate_caches()
    assert len(reads) == 1
    importlib.invalidate_caches()
    assert len(reads) == 1


@needs_311
def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, archive)
    _write_archive(archive, extra=True)
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{PKG}.extra").VALUE == 2


@needs_311
def test_deleted_archive_behaves_like_stock(archive):
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert archive not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in _importers(archive))


@needs_311
def test_install_is_idempotent(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches.__wrapped__
    assert not getattr(stock, "stat_guarded", False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    packaging.install_zip_invalidation_guard()
    once = zipimport.zipimporter.invalidate_caches
    packaging.install_zip_invalidation_guard()
    assert zipimport.zipimporter.invalidate_caches is once
    assert once.stat_guarded and once.__wrapped__ is stock


@pytest.mark.skipif(sys.version_info < (3, 12), reason="guard is active before 3.12")
def test_guard_is_off_from_312():
    packaging.install_zip_invalidation_guard()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "stat_guarded")


@needs_311
def test_worker_skips_rereads(spark):
    from pdf_extract_spark import generator
    from pdf_extract_spark.operators.extract import extract_documents
    from pdf_extract_spark.schemas import DOCUMENTS

    # nested, so cloudpickle ships it by value: workers cannot import tests/
    def probe(_rows):
        """Runs inside a pyspark worker: re-reads during one invalidate_caches."""
        import importlib
        import sys
        import zipimport

        had_guard = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        import pdf_extract_spark  # noqa: F401  (installs the guard)

        if not had_guard:
            # a fresh worker: this task's set-up ran the stock method, so the
            # guard has no stat yet; its first call reads each archive once
            importlib.invalidate_caches()
        reads = []
        stock = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        yield (len(reads), len(importers))

    docs = generator.make_corpus(8, seed=31)
    extract_documents(spark.createDataFrame(docs, schema=DOCUMENTS)).collect()
    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert len(got) == 1
    reads, importers = got[0]
    assert importers >= 1  # else 0 re-reads would prove nothing
    assert reads == 0
