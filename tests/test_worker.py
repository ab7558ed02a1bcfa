"""Zip import caches in Spark Python workers (guava_probably_spark/_worker.py):
pyspark calls ``importlib.invalidate_caches()`` on every task, which on
CPython 3.10-3.12 re-reads every zip on ``sys.path``; the package makes a
worker re-read an archive only when it changed on disk."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from guava_probably_spark import _worker
from guava_probably_spark.sketches import SketchSpec

needs_zip_refresh = pytest.mark.skipif(
    not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="this Python's zipimporter has no invalidate_caches",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@needs_zip_refresh
def test_unchanged_zip_is_not_reread_and_rewritten_zip_imports(tmp_path, monkeypatch):
    # restores the driver's original method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert _worker.install()
    assert _worker.install()  # idempotent: wraps once
    wrapped = zipimport.zipimporter.invalidate_caches
    assert not hasattr(wrapped.__wrapped__, "__wrapped__")

    zpath = str(tmp_path / "gps_worker_lib.zip")
    _write_zip(zpath, {"gps_worker_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    try:
        assert importlib.import_module("gps_worker_mod_a").X == 1
        importlib.invalidate_caches()  # first sight of this importer: read + stamp
        cached = zipimport._zip_directory_cache[zpath]
        for _ in range(3):
            importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[zpath] is cached  # not re-read

        # rewritten in place with one more module: new stamp → re-read
        _write_zip(
            zpath, {"gps_worker_mod_a": "X = 1\n", "gps_worker_mod_b": "Y = 2\n"}
        )
        st = os.stat(zpath)
        os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[zpath] is not cached
        assert importlib.import_module("gps_worker_mod_b").Y == 2

        # a vanished archive cannot be stat'ed: the original drops its cache
        os.unlink(zpath)
        importlib.invalidate_caches()
        assert zpath not in zipimport._zip_directory_cache
    finally:
        for name in ("gps_worker_mod_a", "gps_worker_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)


@needs_zip_refresh
def test_importer_cached_before_install_is_not_reread(tmp_path, monkeypatch):
    """An importer already in ``sys.path_importer_cache`` when the package
    installs was refreshed earlier in that task: install stamps it, so the
    next ``invalidate_caches()`` keeps its directory."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    zpath = str(tmp_path / "gps_worker_early.zip")
    _write_zip(zpath, {"gps_worker_mod_c": "Z = 3\n"})
    monkeypatch.syspath_prepend(zpath)
    try:
        assert importlib.import_module("gps_worker_mod_c").Z == 3
        assert isinstance(sys.path_importer_cache[zpath], zipimport.zipimporter)
        importlib.invalidate_caches()  # unwrapped: the refresh a task starts with
        cached = zipimport._zip_directory_cache[zpath]
        assert _worker.install()
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[zpath] is cached
    finally:
        sys.modules.pop("gps_worker_mod_c", None)
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)


def test_driver_import_machinery_is_untouched(spark):
    """Importing the package on the driver installs nothing: only a Spark
    Python worker has ``SparkFiles._is_running_on_worker`` set."""
    import guava_probably_spark  # noqa: F401

    assert not _worker.install_on_worker()
    refresh = getattr(zipimport.zipimporter, "invalidate_caches", None)
    assert not hasattr(refresh, "__wrapped__")


@needs_zip_refresh
def test_worker_task_does_not_reread_unchanged_zips(spark):
    from guava_probably_spark.operators import collect_sketch

    # one library task: unpickling its UDF imports the package in the worker
    sk, n, _ = collect_sketch(spark.range(0, 1000), "id", SketchSpec("hll", {"p": 10}))
    assert n == 1000

    def reread_probe(batches):
        """Per task: how many cached zip directories one more
        ``importlib.invalidate_caches()`` replaces in this worker."""
        import guava_probably_spark  # noqa: F401  (as every library UDF does)

        for _ in batches:
            pass
        replaced = []
        for _ in range(2):
            before = dict(zipimport._zip_directory_cache)
            importlib.invalidate_caches()
            replaced.append(
                sum(zipimport._zip_directory_cache.get(k) is not v for k, v in before.items())
            )
        yield pa.RecordBatch.from_pydict(
            {"archives": [len(before)], "first": [replaced[0]], "second": [replaced[1]]}
        )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(reread_probe, "archives long, first long, second long")
        .collect()
    )
    assert len(rows) == 4
    # pyspark.zip and the spark-core jar sit on every worker's sys.path
    assert all(r.archives > 0 for r in rows)
    # importers cached when the package installed were stamped then, so
    # not even the first call after it re-reads an archive
    assert [(r.first, r.second) for r in rows] == [(0, 0)] * 4
