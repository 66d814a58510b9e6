"""Lazy zip-archive invalidation (``xutil_spark._runtime``): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is re-read once and its new modules import."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from xutil_spark import _runtime

lazy = pytest.mark.skipif(sys.version_info >= (3, 13),
                          reason="CPython 3.13+ invalidates zip caches lazily itself")


def _write_zip(path: str, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """``zpkg`` (``a.py``) importable from a zip on ``sys.path``."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [p for p in sys.path_importer_cache if p.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    _runtime._stamps.pop(path, None)


def _add_c(path: str) -> None:
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n",
                      "zpkg/c.py": "C = 3\n"})


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@lazy
def test_package_import_installs():
    assert zipimport.zipimporter.invalidate_caches is _runtime._invalidate_caches


def test_rewritten_archive_is_seen(zip_pkg):
    import zpkg.a

    assert zpkg.a.A == 1
    _add_c(zip_pkg)
    importlib.invalidate_caches()
    import zpkg.c

    assert zpkg.c.C == 3


@lazy
def test_unchanged_archive_not_reread_changed_once(zip_pkg, reads):
    import zpkg.a  # noqa: F401  (importers for lib.zip and lib.zip/zpkg/)

    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter) and v.archive == zip_pkg]
    assert len(importers) >= 2
    reads.clear()
    # read before any stamp was taken here: re-read once, not per importer
    importlib.invalidate_caches()
    assert reads.count(zip_pkg) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    _add_c(zip_pkg)
    importlib.invalidate_caches()
    assert reads == [zip_pkg]
    fresh = zipimport._zip_directory_cache[zip_pkg]
    assert "zpkg/c.py" in fresh
    assert all(v._files is fresh for v in importers)


@lazy
def test_deleted_archive_empties_importers(zip_pkg):
    import zpkg.a  # noqa: F401

    os.remove(zip_pkg)
    importlib.invalidate_caches()
    assert zip_pkg not in zipimport._zip_directory_cache
    assert all(v._files == {} for v in sys.path_importer_cache.values()
               if isinstance(v, zipimport.zipimporter) and v.archive == zip_pkg)


def test_install_leaves_313_alone_and_is_idempotent(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _runtime.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    _runtime.install()
    _runtime.install()
    assert zipimport.zipimporter.invalidate_caches is _runtime._invalidate_caches


@lazy
def test_reused_workers_skip_the_reread(spark):
    """A worker that ran an engine UDF has the install, so a later task
    in it re-reads no archive on the per-task ``invalidate_caches``.
    Idle workers are handed out first-in first-out, so a task of the
    second job may land on a worker the first job never reached; the
    check covers every task whose worker imported the package before."""

    def first(it):
        import xutil_spark  # noqa: F401  (as unpickling any engine UDF does)

        for _ in it:
            yield pd.DataFrame({"n": [1]})

    def second(it):
        import importlib
        import sys
        import zipimport

        installed = "xutil_spark" in sys.modules  # by an earlier task here
        calls = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: calls.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in it:
            yield pd.DataFrame({"installed": [installed], "reads": [len(calls)]})

    df = spark.range(0, 32, 1, 16)
    df.mapInPandas(first, "n long").collect()
    got = df.mapInPandas(second, "installed boolean, reads long").toPandas()
    reused = got[got["installed"]]
    assert len(reused) > 0, got
    assert (reused["reads"] == 0).all(), got
