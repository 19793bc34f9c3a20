"""Observation API: per-query metrics collected DURING execution (no second
pass over the data) — the engine-side instrumentation a production pipeline
uses for row-count/invariant monitoring at 100 TB."""

from pyspark.sql import Observation
from pyspark.sql import functions as F

from datafusion_parallelism_spark.session import force_execute, load


def test_observe_collects_metrics_in_one_pass(spark, sf_dir):
    obs = Observation("ingest_stats")
    e = load(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
    )
    out = e.filter(F.col("event_type") == "click")
    force_execute(out)
    got = obs.get
    assert got["n_rows"] == load(spark, sf_dir, "events").count()
    assert got["null_values"] == 0


def test_dump_plans_strips_observation_uuid():
    """scripts/dump_plans.py's strip_ids replaces the random UUID that
    names an ``observe`` (CollectMetrics' first argument) along with the
    expression ids, so two runs of one commit dump the same line."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "dump_plans",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "dump_plans.py"),
    )
    dump_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dump_plans)

    line = "Arguments: {}, [count(1) AS n#1L]"
    for uuid in ("a5260724-4262-4bcd-877a-d7617726a588", "0b9e3f4c-1d2e-4f60-8a7b-9c0d1e2f3a4b"):
        assert dump_plans.strip_ids(line.format(uuid)) == "Arguments: <uuid>, [count(1) AS n#_L]"
