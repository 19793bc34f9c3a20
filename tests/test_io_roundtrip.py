"""CSV/JSON source round-trip queries vs DuckDB oracle on the original
parquet — a hash match proves the write→read cycle is lossless."""

import json
import os
import subprocess
import sys

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.testing import compare_to_oracle

NAMES = sorted(n for n in REGISTRY if n.startswith("source_"))


@pytest.mark.parametrize("name", NAMES)
def test_roundtrip_matches_oracle(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    ok, detail = compare_to_oracle(
        spark, spec.fn(spark, sf_dir_oracle), spec.oracle, sf_dir_oracle
    )
    assert ok, f"{name}: {detail}"


def test_csv_write_is_distributed(spark, sf_dir_oracle):
    """The sink must emit one file per partition (the 100 TB shape), not a
    driver-side single file."""
    import glob
    import os

    from datafusion_parallelism_spark.queries.io_roundtrip import _stage

    REGISTRY["source_csv_roundtrip"].fn(spark, sf_dir_oracle).collect()
    parts = glob.glob(os.path.join(_stage("csv", sf_dir_oracle), "part-*"))
    assert len(parts) >= 1


def test_partitioned_read_prunes_partitions(spark, sf_dir_oracle):
    """The event_type filter must land in PartitionFilters (directory-level
    pruning), not as a data filter after a full scan."""
    from datafusion_parallelism_spark.queries.io_roundtrip import _stage

    df = REGISTRY["source_partitioned_prune"].fn(spark, sf_dir_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.split("\n") if "FileScan parquet" in l]
    assert scan and "PartitionFilters: [" in scan[0]
    assert "event_type" in scan[0].split("PartitionFilters:")[1].split("]")[0]


def test_bucketed_join_query_has_no_exchange(spark, sf_dir_oracle):
    """The registered bucketed-join query must plan with zero shuffles."""
    df = REGISTRY["source_bucketed_join"].fn(spark, sf_dir_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A shuffle-based join (not broadcast — broadcast bypasses the bucket
    # layout entirely) with NO exchange on EITHER join key: the bucketed
    # files alone satisfy the join's distribution requirement.
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


_STAGING_CHILD = """
import glob, json, os, sys
sys.path.insert(0, %(repo)r)
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import get_spark
spark = get_spark(app_name="staging-test")
spark.sparkContext.setLogLevel("ERROR")
for name in (
    "source_csv_roundtrip", "stream_foreachbatch_upsert", "stream_session_windows"
):
    REGISTRY[name].fn(spark, %(sf)r).collect()
pid = os.getpid()
staged = [
    d
    for pattern in ("spark_graft_io/*-p{}", "spark_graft_upsert/{}_*",
                    "spark_graft_stream_out/{}_*")
    for d in glob.glob("/tmp/" + pattern.format(pid))
]
print("STAGED " + json.dumps({"pid": pid, "dirs": staged}))
"""


_STAGING_ROOTS = {
    "/tmp/spark_graft_io": lambda name, pid: name.endswith(f"-p{pid}"),
    "/tmp/spark_graft_upsert": lambda name, pid: name.startswith(f"{pid}_"),
    "/tmp/spark_graft_stream_out": lambda name, pid: name.startswith(f"{pid}_"),
}


def _own_dirs(pid):
    return [
        name
        for root, owned in _STAGING_ROOTS.items()
        if os.path.isdir(root)
        for name in os.listdir(root)
        if owned(name, pid)
    ]


def test_process_removes_its_staging_dirs_at_exit(sf_dir):
    """The CSV round-trip, the foreachBatch upsert and the streaming
    parquet sink stage files under /tmp, keyed by the process id, that
    their lazily read DataFrames need while the process lives; once it
    exits, none of its dirs is left."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _STAGING_CHILD % {"repo": repo, "sf": sf_dir}],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("STAGED ")), None
    )
    assert line is not None, f"no STAGED line; stderr: {proc.stderr[-2000:]}"
    staged = json.loads(line[len("STAGED "):])
    roots = {os.path.dirname(d) for d in staged["dirs"]}
    assert roots == set(_STAGING_ROOTS), staged
    assert _own_dirs(staged["pid"]) == []
