"""The stat-keyed ``zipimporter.invalidate_caches`` installed by the package.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; on CPython 3.10-3.12 the stdlib method re-reads the whole directory of
every zip archive on ``sys.path`` (pyspark.zip among them) each time.
"""

from __future__ import annotations

import importlib
import sys
import time
import zipfile
import zipimport

import pytest

from versatiles_rs_spark import zipimport_cache

STDLIB = getattr(zipimport.zipimporter.invalidate_caches, "eager",
                 zipimport.zipimporter.invalidate_caches)
eager_only = pytest.mark.skipif(
    not zipimport_cache._re_reads_eagerly(STDLIB),
    reason="this interpreter's zipimporter does not re-read eagerly",
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def archive_on_path(tmp_path, monkeypatch):
    """Put a zip archive first on ``sys.path``; forget its modules and
    importers afterwards."""
    paths: list[str] = []

    def put(name: str, files: dict[str, str]) -> str:
        path = str(tmp_path / name)
        _write_zip(path, files)
        monkeypatch.syspath_prepend(path)
        paths.append(path)
        return path

    yield put
    for path in paths:
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(path, None)
    for mod in [m for m in sys.modules if m.startswith("zc_")]:
        del sys.modules[mod]


def test_package_import_installs_where_the_stdlib_re_reads_eagerly():
    assert zipimport_cache.installed() == zipimport_cache._re_reads_eagerly(STDLIB)


@eager_only
def test_unchanged_archive_is_not_re_read(archive_on_path, monkeypatch):
    reads: list[str] = []

    def counted(self):
        reads.append(self.archive)
        STDLIB(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport_cache._keyed(counted))
    path = archive_on_path("a.zip", {
        "zc_a/__init__.py": "",
        "zc_a/sub/__init__.py": "",
        "zc_a/sub/m.py": "X = 1\n",
    })
    assert importlib.import_module("zc_a.sub.m").X == 1
    importers = [k for k, v in sys.path_importer_cache.items()
                 if isinstance(v, zipimport.zipimporter) and v.archive == path]
    assert len(importers) == 3  # the archive, zc_a/ and zc_a/sub/
    importlib.invalidate_caches()
    # the first call reads the directory once for all three importers
    assert reads.count(path) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) == 1


@eager_only
def test_rewritten_archive_is_re_read(archive_on_path):
    assert zipimport_cache.install()
    path = archive_on_path("b.zip", {"zc_b/__init__.py": "", "zc_b/old.py": "V = 'old'\n"})
    assert importlib.import_module("zc_b.old").V == "old"
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_b.added")
    _write_zip(path, {
        "zc_b/__init__.py": "",
        "zc_b/old.py": "V = 'old'\n",
        "zc_b/added.py": "V = 'added'\n",
    })
    importlib.invalidate_caches()
    assert importlib.import_module("zc_b.added").V == "added"


def test_nothing_installed_where_the_re_read_is_lazy(monkeypatch):
    def lazy(self):  # CPython 3.13's zipimporter.invalidate_caches
        zipimport._zip_directory_cache.pop(self.archive, None)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lazy)
    assert not zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is lazy
    assert not zipimport_cache.installed()


@eager_only
def test_engine_udf_workers_run_the_keyed_invalidate(spark):
    """In a reused worker, an engine UDF's later tasks find the keyed method
    installed, and the per-task ``importlib.invalidate_caches()`` is cheap."""
    import pyarrow as pa

    installed = zipimport_cache.installed  # pickled by reference: an engine import

    def probe(it):
        import importlib
        import os
        import time

        t = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "installed": [installed()], "ms": [dt * 1e3]})

    df = spark.range(4).coalesce(1)
    runs, seen, reused = [], set(), []
    # Spark hands out idle workers first in, first out, and the pool may hold
    # many workers of earlier jobs: run until one of this test's workers
    # comes back for a second task
    deadline = time.monotonic() + 120
    while len(reused) < 2 and time.monotonic() < deadline:
        r = df.mapInArrow(probe, "pid long, installed boolean, ms double").collect()[0]
        runs.append(r)
        if r["pid"] in seen:
            reused.append(r["ms"])
        seen.add(r["pid"])
    assert all(r["installed"] for r in runs)
    assert reused, "no Python worker was reused"
    assert max(reused) < 5.0, runs
