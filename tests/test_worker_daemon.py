"""The Python worker daemon (``worker_daemon``): reused workers stop
re-reading the archives Spark launched them with at every task, while any
other zip, such as an ``addPyFile`` archive, still reaches them; and they
start from a frozen heap whose collections still free their own garbage.

The task functions are nested in the tests so cloudpickle ships them by
value: a worker cannot import this test module."""

import json
import uuid
import zipfile

import pytest


#: Schema of the one-row frame each task returns.
_REPORT = "report string"


def _report(spark, task):
    """Run ``task`` as one single-row ``mapInArrow`` task and decode the
    JSON object it reports."""
    df = spark.range(1).coalesce(1).mapInArrow(task, _REPORT)
    return json.loads(df.collect()[0].report)


def test_reused_worker_keeps_spark_archive_directories(spark):
    def report(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        archives = {path for path in sys.path if os.path.isfile(path)}
        classes = sorted(
            {
                f"{type(f).__module__}.{type(f).__qualname__}"
                for path, f in sys.path_importer_cache.items()
                if any(path.startswith(a) for a in archives)
            }
        )
        reads = []
        real = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        out = {
            "pid": os.getpid(),
            "archives": sorted(archives),
            "classes": classes,
            "reads": reads,
        }
        yield pa.RecordBatch.from_pylist([{"report": json.dumps(out)}])

    _report(spark, report)
    warm = _report(spark, report)  # the pool now holds a worker that has run a task
    if not warm["archives"]:
        pytest.skip("the workers import pyspark and py4j from directories, not zips")
    assert warm["classes"], warm
    assert "zipimport.zipimporter" not in warm["classes"], warm
    # Every archive counts, not only pyspark's and py4j's: Spark also puts
    # its core jar on the launch path.
    assert warm["reads"] == [], warm


def test_reused_worker_starts_from_a_frozen_heap(spark):
    def report(batches):
        import gc

        import pyarrow as pa

        for _ in batches:
            pass
        out = {"frozen": gc.get_freeze_count()}
        yield pa.RecordBatch.from_pylist([{"report": json.dumps(out)}])

    _report(spark, report)
    warm = _report(spark, report)
    assert warm["frozen"] > 0, warm


def test_reused_worker_collects_the_last_tasks_cyclic_garbage(spark):
    """Each task leaves one unreachable reference cycle behind, watched by a
    weakref kept where the next task in the same worker can read it; that
    task must find the cycle collected.  Spark hands single tasks to its idle
    workers in turn, so the loop runs until one worker has run two."""

    def probe(batches):
        import sys
        import weakref

        import pyarrow as pa

        for _ in batches:
            pass
        refs = sys.__dict__.setdefault("_cycle_probe_refs", [])
        seen = [ref() is None for ref in refs]

        class Node:
            pass

        node = Node()
        node.self = node
        refs[:] = [weakref.ref(node)]
        del node
        out = {"seen": seen}
        yield pa.RecordBatch.from_pylist([{"report": json.dumps(out)}])

    reports = []
    for _ in range(2 * spark.sparkContext.defaultParallelism + 2):
        reports.append(_report(spark, probe))
        if reports[-1]["seen"]:
            break
    seen = [r for report in reports for r in report["seen"]]
    assert seen, reports
    assert all(seen), reports


def test_added_pyfile_zip_reaches_a_reused_worker(spark, tmp_path):
    def touch(batches):
        yield from batches

    spark.range(1).coalesce(1).mapInArrow(touch, "id long").collect()
    module = f"pyfile_probe_{uuid.uuid4().hex}"
    archive = tmp_path / "probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 'from the zip'\n")
    spark.sparkContext.addPyFile(str(archive))

    def read(batches):
        import importlib

        import pyarrow as pa

        for _ in batches:
            pass
        value = importlib.import_module(module).VALUE
        yield pa.RecordBatch.from_pylist([{"report": value}])

    df = spark.range(1).coalesce(1).mapInArrow(read, _REPORT)
    assert df.collect()[0].report == "from the zip"
