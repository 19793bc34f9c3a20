"""The Python worker daemon (``worker_daemon``): reused workers stop
re-reading Spark's own zip archives at every task, while any other zip,
such as an ``addPyFile`` archive, still reaches them.

The task functions are nested in the tests so cloudpickle ships them by
value: a worker cannot import this test module."""

import json
import uuid
import zipfile

import pytest


#: Schema of the one-row frame each task returns.
_REPORT = "report string"


def test_reused_worker_keeps_spark_archive_directories(spark):
    def report(batches):
        import importlib
        import os
        import sys
        import zipimport

        import py4j
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = {
            a for m in (pyspark, py4j) if (a := getattr(m.__loader__, "archive", None))
        }
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
            "spark_archive_reads": sum(a in archives for a in reads),
        }
        yield pa.RecordBatch.from_pylist([{"report": json.dumps(out)}])

    def run():
        df = spark.range(1).coalesce(1).mapInArrow(report, _REPORT)
        return json.loads(df.collect()[0].report)

    run()
    warm = run()  # the pool now holds a worker that has run a task
    if not warm["archives"]:
        pytest.skip("the workers import pyspark and py4j from directories, not zips")
    assert warm["classes"], warm
    assert "zipimport.zipimporter" not in warm["classes"], warm
    assert warm["spark_archive_reads"] == 0, warm


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
