"""Session defaults that must hold outside the measurement harnesses:
compiled-class reuse across a query loop, the core count when
``SPARK_GRAFT_CPUS`` is unset, and kernel imports from a driver started
outside the repository root; and the benchmark queries' results in the
posture ``benchmark_session`` takes at sf0.01."""

import os
import re
import subprocess
import sys

import pytest

from conftest import with_conf
from datafusion_parallelism_spark.metrics import codegen_compiles
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import (
    auto_shuffle_partitions,
    default_cpus,
    force_execute,
)
from datafusion_parallelism_spark.testing import compare_to_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The ``sql_sf0.01`` benchmark queries: 124 distinct generated classes, more
#: than Spark's default compiled-class cache of 100 holds.
_SQL_LOOP = (
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
    "tpch_q21",
    "join_inner_chain",
    "window_rank_orders",
    "agg_count_distinct",
)


def test_warm_pass_over_query_loop_compiles_nothing(spark, sf_dir):
    def one_pass():
        before = codegen_compiles(spark)
        for name in _SQL_LOOP:
            force_execute(REGISTRY[name].fn(spark, sf_dir))
        return codegen_compiles(spark) - before

    # AQE off, as benchmark_session runs inputs this small: with AQE on,
    # query stages take their whole-stage-codegen ids in the order earlier
    # stages finish, and each generated class's name carries its id.  The
    # final plans of agg_count_distinct differ only in those ids (its
    # distinct-count branches swap them from run to run), yet a later run
    # compiles classes under names no earlier run used (24, 4, 0, 0, 2 on
    # five runs): new source text, not a cache miss.
    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        one_pass()
        assert one_pass() == 0


@pytest.mark.parametrize("name", _SQL_LOOP)
def test_sql_loop_matches_oracle_at_one_reducer_without_aqe(spark, sf_dir_oracle, name):
    """``benchmark_session`` runs sf0.01 (1.9 MB) with one shuffle
    partition and AQE off; the shared test session runs core-wide shuffles
    with AQE on, so without this the posture the benchmarks measure would
    have no result check of its own."""
    posture = {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"}
    with with_conf(spark, posture):
        spec = REGISTRY[name]
        df = spec.fn(spark, sf_dir_oracle)
        plan = df._jdf.queryExecution().executedPlan().toString()
        widths = re.findall(r"hashpartitioning\(.*, (\d+)\), \w+", plan)
        assert widths and set(widths) == {"1"}, (name, plan)
        ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"


def test_unset_cpus_default_to_affinity(monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    assert default_cpus() == cores
    # An empty data dir falls back to exactly the core count.
    assert auto_shuffle_partitions(str(tmp_path)) == cores


def test_cpus_env_overrides_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


_CHILD = r"""
import sys
sys.path.insert(0, %(repo)r)
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import get_spark
spark = get_spark(app_name="outside-root")
spark.sparkContext.setLogLevel("ERROR")
print("ROWS", len(REGISTRY["dedup_minhash_lsh"].fn(spark, %(sf)r).collect()))
"""


def test_kernel_query_runs_from_outside_repo_root(sf_dir, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": REPO, "sf": sf_dir}],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert any(line.startswith("ROWS ") for line in proc.stdout.splitlines())
