"""Python worker daemon that takes two fixed costs out of every reused
worker's task.

``get_spark`` names this module as ``spark.python.daemon.module``.  It
changes two things and then runs the stock ``pyspark.daemon.manager``,
whose forked workers inherit both.

The costs it removes, measured on a 4-core box with CPython 3.11.7 and
Spark 4.1.2:

* **Archive re-reads.**  Spark launches the daemon with its own archives
  first on the path: ``pyspark.zip``, the py4j zip and the spark-core jar
  (``PythonUtils.sparkPythonPath``; the jar holds 5,359 entries, 15 MB and
  no ``.py`` file).  At every task ``pyspark.worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()``, and in CPython 3.11
  ``zipimporter.invalidate_caches()`` eagerly re-reads its archive's whole
  central directory, once per cached importer.  A reused worker caches
  14–16 importers of pyspark.zip (8–11 ms a re-read) and one of the jar
  (25–45 ms a re-read).
* **Import-time heap in every collection.**  ``pyspark.daemon`` runs
  ``gc.collect()`` after each task of a reused worker.  That collection
  traversed the ~73k objects the imports left (PySpark, pandas, pyarrow)
  and took 25–36 ms.

The archives Spark put on the path do not change while a context runs, so
the importer installed here keeps their directories.  Every other zip keeps
full invalidation: an ``addPyFile`` archive is put on a worker's path by the
task, not at launch, so it still becomes visible to a reused worker.  The
daemon also imports the Arrow stack every Arrow task loads and freezes its
heap before the first fork (the prefork pattern of ``gc.freeze``), so a
worker's collections scan only what its own tasks allocated.

A warm no-op ``mapInArrow`` task cost 62–76 ms of worker CPU with only the
pyspark/py4j archives cached and costs 2.0–2.3 ms with both changes (mean of
30, ``metrics.python_worker_cpu_s``); the per-task collection fell to
0.2–0.3 ms over ~700 objects.  The stock daemon's task cost 0.20–0.25 s.
"""

import gc
import os
import sys
import zipimport

#: Every archive on the path the daemon was launched with.  Spark builds that
#: path, so these are its own archives; a plain directory is not one.
SPARK_ARCHIVES = frozenset(path for path in sys.path if os.path.isfile(path))


class SparkArchiveImporter(zipimport.zipimporter):
    """A zipimporter that keeps its directory when Spark's archive is it."""

    def invalidate_caches(self):
        if self.archive not in SPARK_ARCHIVES:
            super().invalidate_caches()


def install() -> None:
    """Build zip importers as :class:`SparkArchiveImporter` from now on, and
    drop the plain ones already cached so they are rebuilt as one."""
    sys.path_hooks[:] = [
        SparkArchiveImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


def preload() -> None:
    """Import what every Arrow task imports, then move the whole heap to
    the permanent generation so forked workers never traverse it."""
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    preload()
    daemon.manager()
