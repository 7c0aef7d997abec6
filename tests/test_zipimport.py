"""The package's stat-checked ``zipimporter.invalidate_caches`` (``_zipimport``)
against a zip built here: an unchanged archive is not re-read, a changed one
is, and a deleted one does not make invalidation raise."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from avro_parquet_spark_example_spark import _zipimport


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is _zipimport.invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_zipprobe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_zipprobe_a").A == 1
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
        )
        # The importer was made (and read the archive) before any
        # invalidation, so the first one reads it once to record its stat.
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, {"_zipprobe_a": "A = 1\n", "_zipprobe_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("_zipprobe_b").B == 2

        os.remove(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
    finally:
        sys.modules.pop("_zipprobe_a", None)
        sys.modules.pop("_zipprobe_b", None)
        sys.path_importer_cache.pop(archive, None)
