"""Zip importers of a PySpark worker (``nobletools_spark/worker_imports.py``):
an unchanged archive is not re-read at a task start, a rewritten one is,
and only a worker process is ever patched. No Spark."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from nobletools_spark.worker_imports import StatZipImporter, install

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zip directories are read lazily on this interpreter")


def write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture()
def worker(monkeypatch, tmp_path):
    """This process as a PySpark worker sees it, with private import
    hooks and finder cache, and a zip archive already on ``sys.path``
    with its importer cached; yields the archive and a read counter."""
    archive = str(tmp_path / "lib.zip")
    write_zip(archive, {"zmod_a": "X = 1\n"})
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        {archive: zipimport.zipimporter(archive)})
    monkeypatch.syspath_prepend(archive)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)
    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, reads
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(worker):
    archive, reads = worker
    assert install()
    assert type(sys.path_importer_cache[archive]) is StatZipImporter
    assert StatZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks
    assert importlib.import_module("zmod_a").X == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(worker):
    archive, reads = worker
    assert install()
    importlib.import_module("zmod_a")
    write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zmod_b").Y == 2
    importlib.invalidate_caches()
    assert reads == [archive]


def test_new_archive_importer_is_patched(worker, tmp_path):
    # an archive first seen after install goes through the patched hook
    _, reads = worker
    assert install()
    other = str(tmp_path / "other.zip")
    write_zip(other, {"zmod_b": "Y = 3\n"})
    sys.path.insert(0, other)
    try:
        assert importlib.import_module("zmod_b").Y == 3
        assert type(sys.path_importer_cache[other]) is StatZipImporter
        importlib.invalidate_caches()
        assert reads == [other]        # the first read, by the hook only
    finally:
        sys.path.remove(other)
        zipimport._zip_directory_cache.pop(other, None)


def test_driver_import_leaves_hooks_untouched():
    code = ("import sys, zipimport; hooks = list(sys.path_hooks); "
            "import nobletools_spark; "
            "assert 'pyspark.worker' not in sys.modules; "
            "assert sys.path_hooks == hooks; "
            "assert not any(type(f).__name__ == 'StatZipImporter' "
            "for f in sys.path_importer_cache.values())")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
    assert not install()
