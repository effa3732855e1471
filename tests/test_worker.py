"""The worker-setup helper keeps a zip directory until its archive
changes, without Spark: an importer over a temporary zip stands in for
the worker's importers over ``pyspark.zip`` and the Spark jars."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from rdfa_streaming_parser_js_spark.worker import skip_unchanged_zip_rereads


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(str(archive))
    try:
        _check_rereads(archive, monkeypatch)
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)


def _check_rereads(archive, monkeypatch):
    assert importlib.import_module("m1").X == 1
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    skip_unchanged_zip_rereads()
    installed = zipimport.zipimporter.invalidate_caches
    importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m2.py", "Y = 'two'\n")
    importlib.invalidate_caches()
    assert importlib.import_module("m2").Y == "two"
    assert reads == [str(archive)]

    skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is installed
