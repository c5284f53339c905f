"""`importlib.invalidate_caches()` must not re-read an unchanged zip.

PySpark's Python worker invalidates the import caches before every task;
below Python 3.13 each zipimporter then re-reads its archive's central
directory. The package installs a guard on import that skips the re-read
while the archive's (mtime, size) stamp is unchanged. No Spark here: the
guard is plain import machinery.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import kafka_streams_reorder_timestamp_spark  # noqa: F401  (installs the guard)


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg_probe.zip")
    modules = {
        "zpkg_probe/__init__.py": "",
        "zpkg_probe/sub/__init__.py": "",
        "zpkg_probe/sub/first.py": "VALUE = 1\n",
    }
    _write_archive(archive, modules)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read_directory(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read_directory)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zpkg_probe.sub.first").VALUE == 1
        # The first invalidation after an importer appears reads its
        # archive once and stamps the importer.
        importlib.invalidate_caches()

        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # A rewritten archive (new submodule inside the subpackage) is
        # re-read by every importer on it, including the subpackage's.
        _write_archive(archive, {**modules, "zpkg_probe/sub/second.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zpkg_probe.sub.second").VALUE == 2
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg_probe"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
