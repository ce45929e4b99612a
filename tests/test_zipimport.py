"""The stat-checked `zipimporter.invalidate_caches` (docling_spark._zipimport),
checked on a throwaway archive with no Spark."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from docling_spark import _zipimport


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", source)


def _load_m(importer):
    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 re-reads zip directories lazily")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches.__wrapped__)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "X = 1\n")
    importer = cls(archive)
    assert _load_m(importer).X == 1
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)

    _zipimport.install()
    patched = cls.invalidate_caches
    _zipimport.install()
    assert cls.invalidate_caches is patched  # installing twice is a no-op

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    importlib.invalidate_caches()
    assert reads == []  # unchanged archive: no re-read

    _write_zip(archive, "X = 22\n")  # a different size
    importlib.invalidate_caches()
    assert reads == [archive]
    assert _load_m(importer).X == 22


def test_install_leaves_313_alone(monkeypatch):
    cls = zipimport.zipimporter
    stock = getattr(cls.invalidate_caches, "__wrapped__", cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _zipimport.install()
    assert cls.invalidate_caches is stock
