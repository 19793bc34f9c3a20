"""Runner CLI, file sinks, in-memory source."""

import glob
import json
import os

from datafusion_parallelism_spark import runner
from datafusion_parallelism_spark.session import load
from datafusion_parallelism_spark.sinks import write_csv, write_json
from datafusion_parallelism_spark.sources.memory import (
    materialize_tables,
    release_tables,
)

from conftest import with_conf


def test_write_csv_roundtrip(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(df, out, single_file=True)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == df.count()
    assert back.columns == df.columns
    assert len(glob.glob(os.path.join(out, "part-*"))) == 1  # single_file


def test_write_json_roundtrip(spark, sf_dir, tmp_path):
    df = load(spark, sf_dir, "region")
    out = str(tmp_path / "region_json")
    write_json(df, out)
    back = spark.read.json(out)
    assert back.count() == df.count()


def test_materialize_tables_serves_cache(spark, sf_dir):
    dfs = materialize_tables(spark, sf_dir, tables=("nation", "region"))
    try:
        # A fresh, independently-built plan over the same path must be
        # served from the InMemoryRelation (StaticTable semantics).
        fresh = load(spark, sf_dir, "nation")
        plan = fresh._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan, plan
        assert fresh.count() == 25
    finally:
        release_tables(dfs)


#: The runtime confs ``benchmark_session`` sets on the session it reuses.
_RUNNER_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _run_isolated(spark, argv):
    """``runner.run`` reuses the shared test session through
    ``benchmark_session``, which turns AQE off below its input-size gate.
    Hold both confs it sets so later test files keep the session as
    conftest built it."""
    before = {k: spark.conf.get(k) for k in _RUNNER_CONFS}
    with with_conf(spark, before):
        report = runner.run(argv)
    assert {k: spark.conf.get(k) for k in _RUNNER_CONFS} == before
    return report


def test_runner_from_memory_mode(spark, sf_dir):
    report = _run_isolated(
        spark,
        ["--data-path", sf_dir, "--query", "tpch_q6", "--iterations", "1", "--from-memory"],
    )
    assert report["from_memory"] is True
    assert "tpch_q6" in report["queries"]


def test_runner_cli_artifacts(spark, sf_dir, tmp_path):
    out = str(tmp_path / "results")
    report = _run_isolated(
        spark,
        [
            "--data-path", sf_dir,
            "--query", "tpch_q1",
            "--query", "tpch_q6",
            "--iterations", "2",
            "--output-dir", out,
        ]
    )
    assert set(report["queries"]) == {"tpch_q1", "tpch_q6"}
    for q in ("tpch_q1", "tpch_q6"):
        assert len(report["queries"][q]["times_sec"]) == 2
        assert os.path.isdir(os.path.join(out, f"{q}.csv"))
        assert os.path.getsize(os.path.join(out, f"{q}_plan.txt")) > 0
    with open(os.path.join(out, "timings.json")) as fh:
        assert json.load(fh)["iterations"] == 2
