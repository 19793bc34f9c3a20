"""Stage-metrics surface (datafusion_parallelism_spark.metrics) — the Spark
analog of the reference's ``ExecutionPlan::metrics()`` (static_table.rs:215).

The REST reader needs a UI-enabled context, and a process hosts exactly one
SparkContext — so the live-read test runs in a subprocess with its own
UI-enabled session; the shared pytest session (UI off) pins the graceful
empty-dict path instead.
"""

import json
import os
import subprocess
import sys
import time

from conftest import with_conf
from datafusion_parallelism_spark.metrics import (
    SUMMABLE,
    jobs_submitted,
    python_worker_cpu_s,
    stage_metrics,
    totals,
)

_CHILD = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from datafusion_parallelism_spark.session import get_spark, force_execute, load
from datafusion_parallelism_spark.metrics import stage_metrics
from pyspark.sql import functions as F
spark = get_spark(app_name="metrics-test", extra_conf={"spark.ui.enabled": "true"})
spark.sparkContext.setLogLevel("ERROR")
df = load(spark, %(sf)r, "lineitem").groupBy("l_orderkey").agg(
    F.sum("l_quantity").alias("q")
)
force_execute(df)
print("METRICS " + json.dumps(stage_metrics(spark)))
"""


def test_stage_metrics_live_read(sf_dir):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": repo, "sf": sf_dir}],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("METRICS ")),
        None,
    )
    assert line is not None, f"no METRICS line; stderr: {proc.stderr[-2000:]}"
    rows = json.loads(line[len("METRICS "):])
    assert rows, "no completed stages reported"
    for row in rows.values():
        assert set(SUMMABLE) <= set(row)
        assert {"name", "tasks", "peak_exec_mem_mb", "shuffle_write_rows"} <= set(row)
    # the groupBy shuffles: bytes and rows must show up somewhere
    agg = totals(rows)
    assert agg["shuffle_write_mb"] > 0
    assert agg["run_ms"] > 0
    assert sum(r["shuffle_write_rows"] for r in rows.values()) > 0


def test_stage_metrics_empty_when_ui_disabled(spark):
    assert spark.sparkContext.uiWebUrl is None  # default session posture
    assert stage_metrics(spark) == {}


def test_jobs_submitted_counts_with_ui_disabled(spark):
    """The job count needs no UI: with AQE off (which would run the count's
    shuffle as a job of its own), one ``count`` launches exactly one job."""
    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        before = jobs_submitted(spark)
        spark.range(10).count()
        assert jobs_submitted(spark) - before == 1


def test_python_worker_cpu_counts_python_tasks_only(spark):
    """A Python task raises the worker CPU figure; a pure-SQL query, which
    starts no Python worker, leaves it as it was, with the UI off."""

    def burn(batches):  # nested, so it is pickled by value
        start = time.process_time()
        while time.process_time() - start < 0.3:
            pass
        yield from batches

    def python_task():
        spark.range(1).coalesce(1).mapInArrow(burn, "id long").collect()

    python_task()  # a worker exists from here on
    # The worker collects garbage after it answers a task, and the daemon
    # polls its socket once a second: let the first settle, and allow the
    # second a tick of slack.
    time.sleep(1)
    before = python_worker_cpu_s(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    assert python_worker_cpu_s(spark) - before <= 0.02
    before = python_worker_cpu_s(spark)
    python_task()
    assert python_worker_cpu_s(spark) - before >= 0.25


def test_totals_sums_additive_fields_only():
    rows = {
        1: dict.fromkeys(SUMMABLE, 1.0) | {"peak_exec_mem_mb": 50, "tasks": 2},
        2: dict.fromkeys(SUMMABLE, 2.5) | {"peak_exec_mem_mb": 99, "tasks": 3},
    }
    agg = totals(rows)
    assert agg == {m: 3.5 for m in SUMMABLE}
    assert "peak_exec_mem_mb" not in agg  # a max, never a sum
    assert totals(list(rows.values())) == agg
