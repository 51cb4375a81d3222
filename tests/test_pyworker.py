"""The worker daemon's zip importer re-reads an archive only when it changed.

No Spark here: a zip under ``tmp_path`` on ``sys.path``, with the
daemon's path hook installed into this process for the test's duration.
``zipimport._read_directory`` is the full central-directory parse that
``importlib.invalidate_caches()`` costs a stock importer on every call.
"""

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

import pytest

from go_triton_spark import pyworker


@pytest.fixture
def reads(monkeypatch, request):
    """Install the daemon's hook for this test; count directory reads."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.setattr(pyworker, "_read_at", dict(pyworker._read_at))
    pyworker.install()
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    request.addfinalizer(lambda: [sys.modules.pop(m, None) for m in
                                  ("gts_zip_one", "gts_zip_two",
                                   "gts_dir_one")])
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(reads, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"gts_zip_one": 1})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("gts_zip_one").VALUE == 1
    finder = sys.path_importer_cache[str(archive)]
    assert type(finder) is pyworker.StableZipImporter

    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    # the counter does see a stock importer's re-read of the same archive
    zipimport.zipimporter(str(archive)).invalidate_caches()
    assert reads == [str(archive)]


def test_rewritten_archive_is_reread(reads, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"gts_zip_one": 1})
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module("gts_zip_one")
    with pytest.raises(ImportError):
        importlib.import_module("gts_zip_two")

    _write_zip(archive, {"gts_zip_one": 1, "gts_zip_two": 2})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("gts_zip_two").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # an archive that stats as missing is re-read (and found empty)
    archive.unlink()
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert sys.path_importer_cache[str(archive)]._files == {}


def test_importer_built_from_a_cached_directory_rereads(reads, tmp_path):
    # a forked worker builds its importers from the directories the
    # daemon cached, which may predate the archive's last rewrite
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"gts_zip_one": 1})
    pyworker.StableZipImporter(str(archive))
    _write_zip(archive, {"gts_zip_one": 1, "gts_zip_two": 2})
    late = pyworker.StableZipImporter(str(archive))
    assert late.find_spec("gts_zip_two") is None
    late.invalidate_caches()
    assert late.find_spec("gts_zip_two") is not None


def test_directory_stays_with_file_finder(reads, tmp_path, monkeypatch):
    with pytest.raises(zipimport.ZipImportError):
        pyworker.StableZipImporter(str(tmp_path))
    (tmp_path / "gts_dir_one.py").write_text("VALUE = 3\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    assert importlib.import_module("gts_dir_one").VALUE == 3
    assert isinstance(sys.path_importer_cache[str(tmp_path)],
                      importlib.machinery.FileFinder)
