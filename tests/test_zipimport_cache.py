"""The zipimport shim (columnar_format_spark/_zipimport.py): an unchanged
archive is not re-read on ``importlib.invalidate_caches()``, a changed or
removed one still is. No Spark."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import columnar_format_spark  # noqa: F401  (installs the shim)

EAGER_STDLIB = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``colfzip_a``, on sys.path and imported, plus a
    list that records every ``zipimport._read_directory`` call."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["colfzip_a"])
    saved_path = sys.path[:]
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    sys.path.insert(0, path)
    try:
        assert importlib.import_module("colfzip_a").NAME == "colfzip_a"
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or real(p))
        yield path, reads
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]


@pytest.mark.skipif(not EAGER_STDLIB,
                    reason="CPython >= 3.13 invalidates zip caches lazily")
def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    importlib.invalidate_caches()  # importers made before the shim: one read
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    path, _ = archive
    importlib.invalidate_caches()
    _write_zip(path, ["colfzip_a", "colfzip_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("colfzip_b").NAME == "colfzip_b"


def test_deleted_archive_does_not_raise(archive, tmp_path):
    path, reads = archive
    importlib.invalidate_caches()
    del reads[:]
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    if EAGER_STDLIB:
        assert reads == [path]
    with pytest.raises(ImportError):
        importlib.import_module("colfzip_b")
