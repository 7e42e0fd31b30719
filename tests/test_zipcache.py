"""The stat-guarded zipimport cache (katta_spark._zipcache): an unchanged
archive is not re-read by importlib.invalidate_caches(), a rewritten one
is, and a Python worker that ran a katta_spark kernel has the guard."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from katta_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip archives lazily; no guard installed",
)

MOD = "katta_zipcache_probe"


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", f"VALUE = {value!r}\n")


def _import_value():
    sys.modules.pop(MOD, None)
    return importlib.import_module(MOD).VALUE


@pytest.fixture
def archive(tmp_path):
    """A zip holding one module, on sys.path for the test only."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, 1)
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        sys.modules.pop(MOD, None)


@pytest.fixture
def read_counter(monkeypatch):
    """Archives passed to zipimport._read_directory while active."""
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_import_installs_guard():
    assert _zipcache.installed()
    before = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_unchanged_archive_is_not_reread(archive, read_counter):
    assert _import_value() == 1
    importlib.invalidate_caches()  # records the stat key of every archive
    read_counter.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert read_counter == []
    assert _import_value() == 1
    # the counter does see reads: the unguarded method re-reads every call
    importer = sys.path_importer_cache[archive]
    zipimport.zipimporter.invalidate_caches._katta_reread(importer)
    assert read_counter == [archive]


def test_replaced_archive_is_reread(archive, read_counter):
    assert _import_value() == 1
    importlib.invalidate_caches()
    tmp = archive + ".new"
    _write_zip(tmp, "a longer value")
    os.replace(tmp, archive)  # new inode and size
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == [archive]
    assert _import_value() == "a longer value"


def test_same_size_rewrite_in_place_is_reread(archive, read_counter):
    assert _import_value() == 1
    importlib.invalidate_caches()
    st = os.stat(archive)
    _write_zip(archive, 2)  # same size, same inode
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(archive).st_size == st.st_size
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == [archive]
    assert _import_value() == 2


def test_worker_running_a_kernel_has_guard(spark):
    def kernel(batches):
        import importlib
        import zipimport

        import pandas as pd

        import katta_spark

        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"installed": [katta_spark._zipcache.installed()],
             "reads": [len(reads)]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(kernel, "installed boolean, reads long")
        .collect()[0]
    )
    assert row["installed"] is True
    assert row["reads"] == 0
