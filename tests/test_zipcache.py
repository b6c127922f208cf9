"""The stat-guarded zip-directory cache ``gridfia_spark.zipcache`` (no Spark).

``importlib.invalidate_caches()`` re-reads an archive's central directory
only when the archive changed; a deleted archive takes the stdlib path."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from gridfia_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="installed on Python < 3.13 only"
)


def _write_zip(path: str, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch) -> list[str]:
    """Archives whose central directory is read, in order."""
    seen: list[str] = []
    read = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch, reads):
    """A zip on ``sys.path`` holding ``zc_mod_a``, already imported from."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, zc_mod_a="X = 1\n")
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module("zc_mod_a").X == 1
    assert reads.count(path) == 1
    reads.clear()
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_guard_is_installed():
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches


def test_unchanged_archive_is_not_reread(archive, reads):
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importer._files is zipimport._zip_directory_cache[archive]


def test_rewritten_archive_is_reread(archive, reads):
    new = archive + ".new"
    _write_zip(new, zc_mod_a="X = 1\n", zc_mod_b="Y = 2\n")
    os.replace(new, archive)  # a new inode and a new size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_deleted_archive_takes_stdlib_path(archive, reads):
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
