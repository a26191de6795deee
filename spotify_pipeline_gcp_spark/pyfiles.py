"""Ship this package to Spark Python workers.

Driver-side ``sys.path`` manipulation does not reach executor Python
workers: a Pandas-UDF kernel that references any symbol from this
package unpickles on the worker by importing the module, and fails if
the package is not on the worker's import path. The cluster-correct
answer — identical in local mode and on 1000 executors — is to
distribute the package archive with ``SparkContext.addPyFile``.

Every operator that runs Python kernels calls
``ensure_package_on_workers`` first; it zips the package once per
process and registers it idempotently.

Importing the package in a Python worker also calls
``reuse_zip_directories`` (see its docstring): a reused worker then
starts each task without re-reading every zip archive on its path.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_ADDED_FLAG = "spotify_pipeline_gcp_spark.pyfiles.added"


def ensure_package_on_workers(spark: SparkSession) -> None:
    jconf = spark.sparkContext.environment
    if jconf.get(_ADDED_FLAG):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    jconf[_ADDED_FLAG] = "1"


def reuse_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed.

    A Python worker runs ``importlib.invalidate_caches()`` at the start
    of every task. Python 3.11's ``zipimporter`` answers by re-reading
    the archive's whole central directory, once per importer: a worker
    holds ~16 of them (``pyspark.zip`` and each of its imported
    subpackages, the py4j zip, the ``spark-core`` jar), and the
    re-reads cost ~0.15 s per task on a 4-core box — most of what a
    warm one-task ``mapInPandas`` stage costs over a JVM-only stage.
    Here the first importer of an archive in each call re-reads it
    when its (mtime_ns, size) differs from the last read, and every
    other importer of the same archive reuses that read, so a rewritten
    archive is still seen. Pythons whose ``zipimporter`` already
    invalidates lazily (a ``_get_files`` method) are left alone.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls, "_graft_reread"):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
        else:
            reread(self)
            read_at[self.archive] = key

    cls._graft_reread = reread
    cls.invalidate_caches = invalidate_caches
