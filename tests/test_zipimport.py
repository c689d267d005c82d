"""The zip-archive guard (``geetiles_spark/_zipimport.py``): an importer
re-reads its archive on ``importlib.invalidate_caches()`` only when the
archive changed, each importer by its own stamp; a missing archive takes
the stock path; installing twice wraps once.  Plain Python, no Spark."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from geetiles_spark import _zipimport


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("p/__init__.py", "")
        for name in modules:
            z.writestr(f"p/{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path):
    """``p.m`` imported from a zip on ``sys.path``: a top-level importer
    for the archive and a prefixed one for ``p``'s ``__path__``."""
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, ["m"])
    sys.path.insert(0, path)
    try:
        import p.m  # noqa: F401

        importers = [
            v for k, v in sys.path_importer_cache.items()
            if k.startswith(path) and isinstance(v, zipimport.zipimporter)
        ]
        assert sorted(i.prefix for i in importers) == ["", "p/"]
        yield path
    finally:
        sys.path.remove(path)
        for k in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[k]
        for k in [k for k in sys.modules if k == "p" or k.startswith("p.")]:
            del sys.modules[k]


@pytest.fixture
def reads(monkeypatch):
    """Paths passed to ``zipimport._read_directory``, in call order."""
    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()  # stamps importers made before any call
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_each_importer_rereads_a_changed_archive(archive, reads):
    importlib.invalidate_caches()
    _write_zip(archive, ["m", "m2"])  # a new member: the size changes
    reads.clear()
    importlib.invalidate_caches()
    # both importers re-read, the prefixed one by its own stamp
    assert reads.count(archive) == 2
    m2 = importlib.import_module("p.m2")
    assert m2.NAME == "m2"
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_missing_archive_takes_the_stock_path(archive, reads):
    import os

    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()  # must not raise
    assert reads.count(archive) == 2
    importers = [v for k, v in sys.path_importer_cache.items() if k.startswith(archive)]
    assert all(i._files == {} for i in importers)
    # the archive coming back is read again
    _write_zip(archive, ["m"])
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert all("p/m.py" in i._files for i in importers)


def test_install_twice_wraps_once():
    guard = zipimport.zipimporter.invalidate_caches
    assert guard._geetiles_guard
    _zipimport.install()
    importlib.reload(_zipimport)
    assert zipimport.zipimporter.invalidate_caches is guard
    assert not hasattr(guard.__wrapped__, "_geetiles_guard")
