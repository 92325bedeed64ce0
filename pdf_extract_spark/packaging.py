"""Packaging for spark-submit --py-files (north-rule requirement).

On a real cluster the job ships as::

    spark-submit --py-files pdf_extract_spark.zip job.py

For programmatic sessions (tests, bench, notebooks) ``build_spark`` calls
:func:`ship_package`, which builds the same zip once per process and
registers it via ``SparkContext.addPyFile`` so Python workers can import
the package regardless of their working directory. Zips built into a
temporary directory are removed when the building interpreter exits.

The package also speeds up the workers that import it: see
:func:`install_zip_invalidation_guard`.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import sys
import tempfile
import zipfile
import zipimport

_ZIP_CACHE: dict[tuple[str, str], str] = {}
# temporary directories this process created for its zips
_OWNED_DIRS: list[str] = []


def _source_digest(entries: list[tuple[str, str]]) -> str:
    """Content digest of the package source. The zip cache keys on THIS,
    not just the package dir: a long-lived driver whose source was
    edited mid-session must rebuild (a dir-keyed cache re-shipped the
    stale pre-edit bytes, which addPyFile silently accepts as equal —
    exactly the silent version skew _ensure_shipped promises to
    surface)."""
    import hashlib

    h = hashlib.md5()
    for rel, full in sorted(entries):
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _package_entries(pkg_dir: str) -> list[tuple[str, str]]:
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.join("pdf_extract_spark", os.path.relpath(full, pkg_dir))
            entries.append((rel, full))
    return entries


def _owned_tempdir() -> str:
    """A fresh temporary directory, removed at interpreter exit. The
    removal runs only in the process that created it: a forked child
    inherits the atexit hook but must not delete its parent's zip."""
    path = tempfile.mkdtemp(prefix="pdf_extract_spark_pyfiles_")
    if not _OWNED_DIRS:
        atexit.register(_remove_owned_dirs, os.getpid())
    _OWNED_DIRS.append(path)
    return path


def _remove_owned_dirs(owner_pid: int) -> None:
    if os.getpid() != owner_pid:
        return
    for path in _OWNED_DIRS:
        shutil.rmtree(path, ignore_errors=True)


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the pdf_extract_spark package; returns the zip path. The
    cache keys on (source content, requested dest_dir) — an explicit
    dest_dir is always honored, and edited source always rebuilds."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = _package_entries(pkg_dir)
    key = (_source_digest(entries), dest_dir or "")
    if key in _ZIP_CACHE and os.path.exists(_ZIP_CACHE[key]):
        return _ZIP_CACHE[key]
    if dest_dir is None:
        dest_dir = _owned_tempdir()
    else:
        os.makedirs(dest_dir, exist_ok=True)
    zip_path = os.path.join(dest_dir, "pdf_extract_spark.zip")
    # Byte-DETERMINISTIC archive: sorted entry order, zeroed timestamps.
    # Spark's addPyFile dedups by file NAME and silently skips a re-add
    # whose bytes match the already-registered copy, but raises "exists
    # and does not match contents" when they differ. With live mtimes a
    # rebuild of IDENTICAL source produced different bytes, making that
    # error ambiguous (benign rebuild vs real version skew); with a
    # deterministic zip it fires only when the package source genuinely
    # changed under a live context — which must surface, not be caught.
    with zipfile.ZipFile(zip_path, "w") as zf:
        for rel, full in sorted(entries):
            info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            with open(full, "rb") as f:
                zf.writestr(info, f.read())
    _ZIP_CACHE[key] = zip_path
    return zip_path


def ship_package(spark) -> str:
    """Make the package importable on executors via addPyFile."""
    zip_path = build_pyfiles_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def install_zip_invalidation_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not
    change. Idempotent; a no-op on Python >= 3.12.

    Every task, a pyspark worker's ``setup_spark_files`` ends in
    ``importlib.invalidate_caches()``. On CPython <= 3.11 that calls
    ``zipimporter.invalidate_caches`` on every zipimporter in
    ``sys.path_importer_cache``, and each call re-reads its archive's
    whole central directory in pure Python. A worker that has loaded the
    Arrow UDF stack holds a dozen zipimporters over ``pyspark.zip`` and
    two over the spark-core jar (~5 000 entries), so every task paid
    ~0.2 s before its UDF ran. CPython 3.12 made the re-read lazy
    (gh-103200); 3.11 never got the fix.

    The guarded method re-reads an archive only when its
    ``(st_ino, st_size, st_mtime_ns)`` differs from the stat taken just
    before that archive's last read; otherwise it reuses
    ``zipimport._zip_directory_cache[archive]``. The first guarded call
    still reads each archive once (one read per archive, not per
    zipimporter). The triple is safe here because nothing rewrites an
    archive in place with equal size and mtime: Spark fetches every added
    file into a new path (so the inode changes), and a rebuilt zip has a
    new mtime. When the stat fails or the cache entry is missing, the
    stock method runs, with its stock error handling.

    ``pdf_extract_spark/__init__.py`` calls this. Workers import the
    package whenever they unpickle one of its UDFs (pickled by
    reference), so the guard is in place from a worker's second task on.
    """
    if sys.version_info >= (3, 12):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "stat_guarded", False):
        return
    read_stats: dict[str, tuple[int, int, int]] = {}

    @functools.wraps(stock)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            return stock(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        # a failed read drops the cache entry, so the next call re-reads
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and read_stats.get(archive) == stamp:
            self._files = files
            return
        stock(self)
        read_stats[archive] = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
