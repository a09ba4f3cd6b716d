"""Stat-keyed zip import directories (pdfplumber_rs_spark.zipcache), no Spark."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from pdfplumber_rs_spark import zipcache


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_skips_unchanged_archive_and_reloads_changed(tmp_path, monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches is zipcache.invalidate_if_changed
    assert installed == (sys.version_info < (3, 13))

    archive = str(tmp_path / "zipcache_mods.zip")
    _write_zip(archive, {"zipcache_mod_a": "A = 1\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipcache_mod_a").A == 1
        importlib.invalidate_caches()  # a keyless importer re-reads once
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zipcache_mod_a": "A = 1\n",
                             "zipcache_mod_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zipcache_mod_b").B == 2
    finally:
        for name in ("zipcache_mod_a", "zipcache_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_install_is_idempotent_and_gated_on_version(monkeypatch):
    stock = zipcache._stock_invalidate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    monkeypatch.setattr(sys, "version_info", (3, 12, 1))
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_if_changed
