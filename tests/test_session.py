"""Importing the package makes ``importlib.invalidate_caches()`` skip
zip archives that have not changed (``session`` docstring): PySpark
calls it at the start of every Python task, and each re-read of
``pyspark.zip``'s directory is paid per importer, per task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import distcpplus_spark  # noqa: F401  (installs the stat check)
from distcpplus_spark import session


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
    )
    try:
        assert importlib.import_module("m1").NAME == "m1"
        # the first invalidation may read the new archive once
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])
        importlib.invalidate_caches()
        assert importlib.import_module("m2").NAME == "m2"
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    session._stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_worker_task_skips_unchanged_archives(spark):
    """A Python task that imported the package re-reads no archive on
    the next invalidation; unpatched, every cached zipimporter (16 for
    pyspark.zip alone) re-read its whole archive."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import distcpplus_spark  # noqa: F401

        if not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        ):
            yield None
            return
        # a worker that imported the package in this very task has not
        # stamped its archives yet; this call does
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(reads)

    out = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    if out == [None]:
        pytest.skip("the worker has no cached zipimporter")
    assert out == [0]
