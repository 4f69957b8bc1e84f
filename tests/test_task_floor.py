"""The per-task worker floor: ``install_lazy_zip_invalidation`` re-reads a
zip archive's directory only when the archive changed, and the Python
workers that run engine kernels carry it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle
from pyspark.sql import types as T

from fs2_osm_spark import install_lazy_zip_invalidation
from fs2_osm_spark.rowmap import map_columns, map_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip archive on sys.path; the modules imported from it and its
    importer are dropped afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"fz_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    before = set(sys.modules)
    yield path
    for name in set(sys.modules) - before:
        if name.startswith("fz_"):
            del sys.modules[name]
    sys.path_importer_cache.pop(path, None)


def test_archive_rewritten_in_place_is_reread(archive):
    assert importlib.import_module("fz_first").X == 1
    _write_zip(archive, {"fz_first": "X = 1\n", "fz_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("fz_second").Y == 2

    # same size, new mtime: still re-read
    st = os.stat(archive)
    _write_zip(archive, {"fz_first": "X = 1\n", "fz_third_": "Z = 3\n"})
    assert os.stat(archive).st_size == st.st_size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("fz_third_").Z == 3


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.import_module("fz_first")
    importlib.invalidate_caches()  # the first call may read each archive once
    real = zipimport._read_directory
    reads = []
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_install_leaves_lazy_or_missing_invalidate_untouched(monkeypatch):
    cls = zipimport.zipimporter

    def stdlib_invalidate(self):
        pass

    monkeypatch.setattr(cls, "invalidate_caches", stdlib_invalidate)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    install_lazy_zip_invalidation()
    assert cls.invalidate_caches is stdlib_invalidate

    monkeypatch.delattr(cls, "invalidate_caches")
    install_lazy_zip_invalidation()
    assert not hasattr(cls, "invalidate_caches")


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython >= 3.13 is lazy")
def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__module__ == "fs2_osm_spark"
    install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


class _KernelCapture:
    """Stands in for a DataFrame: keeps the function handed to mapInArrow."""

    schema = T.StructType([T.StructField("x", T.LongType())])

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        self.kernel = fn


def _unpickled_in_fresh_interpreter(kernel) -> str:
    """Unpickle ``kernel`` the way a new Python worker does, in an
    interpreter that has not imported the engine; returns the module that
    then defines ``zipimporter.invalidate_caches``."""
    code = (
        "import pickle, sys, zipimport\n"
        "assert 'fs2_osm_spark' not in sys.modules\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(kernel),
        capture_output=True,
        cwd=REPO,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr.decode()
    return r.stdout.decode().strip()


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython >= 3.13 is lazy")
def test_unpickling_an_adapter_kernel_installs_the_fix():
    """cloudpickle ships the adapters' ``run`` closures by value; their batch
    bodies are module functions of ``fs2_osm_spark.rowmap``, so unpickling
    either kernel imports the package whatever ``fn`` the caller passed
    (here lambdas, shipped by value, that import nothing)."""
    rows = _KernelCapture()
    map_rows(rows, ["x"], lambda x: [(x,)], _KernelCapture.schema)
    cols = _KernelCapture()
    map_columns(cols, ["x"], ["x"], lambda x: [x], [T.StructField("y", T.LongType())])
    for kernel in (rows.kernel, cols.kernel):
        assert _unpickled_in_fresh_interpreter(kernel) == "fs2_osm_spark"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython >= 3.13 is lazy")
def test_workers_carry_the_fix_and_a_cheap_task_floor(spark):
    """A one-row map_rows kernel run twice (its probe imports nothing of the
    engine; the session's workers may be reused, so the test above is the
    one that pins how a new worker gets the fix): every worker of the second
    run has the engine's invalidate_caches, one importlib.invalidate_caches()
    there costs <= 10 ms of CPU (100-220 ms when it re-reads pyspark.zip), and
    a warm worker spends <= 70 ms of CPU between tasks (130-250 ms before; the
    rest is mostly the daemon's gc.collect() after every task)."""
    from tools.task_floor import worker_probe

    got = worker_probe(spark)
    assert got["invalidate_modules"] == ["fs2_osm_spark"]
    assert got["invalidate_ms"] <= 10, got
    assert got["worker_gap_ms"] is not None and got["worker_gap_ms"] <= 70, got
