"""Python worker import path: zip archive directories are re-read only
when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from spotify_pipeline_gcp_spark.pyfiles import (
    ensure_package_on_workers,
    reuse_zip_directories,
)


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("graft_probe_pkg/__init__.py", "")
        zf.writestr("graft_probe_pkg/mod.py", body)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):  # lazy invalidation already: left alone
        reuse_zip_directories()
        assert not hasattr(cls, "_graft_reread")
        return
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "X = 1\n")
    monkeypatch.syspath_prepend(path)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or real_read(archive)
    )
    original = cls.invalidate_caches
    try:
        reuse_zip_directories()
        reuse_zip_directories()  # idempotent: wraps once
        assert cls._graft_reread is original
        import graft_probe_pkg.mod as mod  # two importers of one archive

        assert mod.X == 1
        importlib.invalidate_caches()  # the first call reads once per archive
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert path not in reads
        _write_zip(path, "X = 22\n")  # a rewritten archive is read again
        importlib.invalidate_caches()
        assert reads.count(path) == 1
        del sys.modules["graft_probe_pkg.mod"]
        assert importlib.import_module("graft_probe_pkg.mod").X == 22
    finally:
        cls.invalidate_caches = original
        del cls._graft_reread
        sys.modules.pop("graft_probe_pkg.mod", None)
        sys.modules.pop("graft_probe_pkg", None)


def test_package_import_on_a_worker_installs_the_reuse(spark):
    # a kernel that imports the package leaves the worker with the
    # reuse installed, so the worker's next task starts without the
    # directory re-reads
    ensure_package_on_workers(spark)

    def probe(batches):
        import spotify_pipeline_gcp_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"on": [hasattr(zipimport.zipimporter, "_graft_reread")
                                   or hasattr(zipimport.zipimporter, "_get_files")]})

    assert spark.range(1).repartition(1).mapInPandas(probe, "on boolean").collect()[0].on
    assert not hasattr(zipimport.zipimporter, "_graft_reread")  # the driver is untouched
