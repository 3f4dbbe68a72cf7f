"""The stat-guarded ``zipimporter.invalidate_caches`` (no Spark).

Each test builds its own archive, imports from it, and counts the
central-directory reads (``zipimport._read_directory``) that
``importlib.invalidate_caches()`` makes for that archive.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from parquet2csv_spark import _zipimport

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip importers lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``<tag>`` and module ``<tag>.a``, imported
    through ``sys.path``; yields (path, tag, reads) where ``reads`` lists
    every directory read of this archive."""
    tag = f"zipguard_{tmp_path.name}".replace("-", "_")
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {f"{tag}/__init__.py": "", f"{tag}/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    _zipimport.install()
    reads: list[str] = []
    eager_read = zipimport._read_directory

    def counting_read(p):
        if p == path:
            reads.append(p)
        return eager_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module(f"{tag}.a").X == 1
    del reads[:]  # the importer's own first read
    yield path, tag, reads
    for name in [m for m in sys.modules if m == tag or m.startswith(tag + ".")]:
        del sys.modules[name]


def _importers(path):
    return [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == path
    ]


def test_unchanged_zip_is_not_reread(archive):
    path, _, reads = archive
    assert len(_importers(path)) == 2  # archive root and the package
    importlib.invalidate_caches()  # no signature recorded yet
    assert len(reads) == 1  # once per archive, not once per importer
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert all(imp._files is zipimport._zip_directory_cache[path] for imp in _importers(path))


def test_rewritten_zip_is_reread_and_its_new_module_imports(archive):
    path, tag, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {
        f"{tag}/__init__.py": "",
        f"{tag}/a.py": "X = 1\n",
        f"{tag}/b.py": "Y = 2\n",
    })
    del reads[:]
    importlib.invalidate_caches()
    assert len(reads) == 1  # once per archive, not once per importer
    assert importlib.import_module(f"{tag}.b").Y == 2
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_zip_behaves_as_the_eager_original(archive):
    path, _, reads = archive
    importlib.invalidate_caches()
    os.remove(path)
    del reads[:]
    importlib.invalidate_caches()  # must not raise
    assert len(reads) == len(_importers(path))  # each tries the eager read
    assert path not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(path))


def test_install_is_idempotent_and_a_no_op_on_313(monkeypatch):
    _zipimport.install()
    guarded = zipimport.zipimporter.invalidate_caches
    assert hasattr(guarded, "__wrapped__")
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not hasattr(guarded.__wrapped__, "__wrapped__")  # never wraps a wrapper

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", guarded.__wrapped__)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is guarded.__wrapped__
