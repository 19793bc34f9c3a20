"""Python worker daemon that keeps Spark's own zip archives out of the
per-task import-cache invalidation.

``get_spark`` names this module as ``spark.python.daemon.module``.  It
changes one thing and then runs the stock ``pyspark.daemon.manager``,
whose forked workers inherit the change.

The cost it removes, measured on a 4-core box with CPython 3.11.7 and
Spark 4.1.2:

* The workers import PySpark from ``$SPARK_HOME/python/lib/pyspark.zip``:
  Spark puts that zip and the py4j zip first on their path.
* At every task ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``.
* In CPython 3.11, ``zipimporter.invalidate_caches()`` eagerly re-reads its
  archive's whole central directory, once per cached importer, and a
  reused worker caches 14–16 of them: one per package directory it has
  imported from the zip.  One re-read of pyspark.zip (1,328 entries) takes
  8–11 ms, so each task paid ~0.15 s of CPU before its own code ran.
* On a warm, reused worker, a no-op ``mapInArrow`` task over 60k rows
  cost 0.20–0.25 s of worker CPU and costs 0.06–0.07 s with this daemon;
  a stage of four such tasks over one row each went from 0.89–0.95 s to
  0.26–0.27 s (medians of 10 warm runs, two runs per side).

The importer installed here skips the re-read only for the archives that
``pyspark`` and ``py4j`` were imported from, which do not change while a
context runs.  Every other zip keeps full invalidation, so an ``addPyFile``
archive still becomes visible to a reused worker.
"""

import sys
import zipimport

import py4j
import pyspark

#: The archives ``pyspark`` and ``py4j`` were imported from (none when they
#: come from a plain directory, e.g. a pip install).
SPARK_ARCHIVES = frozenset(
    archive
    for module in (pyspark, py4j)
    if (archive := getattr(module.__loader__, "archive", None))
)


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


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
