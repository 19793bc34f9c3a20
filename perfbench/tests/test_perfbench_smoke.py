"""End-to-end smoke runs of the benchmark command on sf0.001 tables, and
its refusal to run without the engine next to it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, *args, timeout=300):
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=timeout)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result = _result(_run(ROOT, "--workload", workload, "--seed", "3",
                          "--seconds", "1", "--trace", "0", "--sf", "0.001"))
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    result = _result(_run(ROOT, "--workload", "pipeline_sf0.01", "--seed", "3",
                          "--seconds", "1", "--trace", "1", "--sf", "0.001"))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] >= 3  # every query executes at least one job
    assert m["plans.python_nodes"] >= 1  # the Arrow kernels ran in-plan
    # The Python worker metrics were found by name and read back.
    assert m["python.total_ms"] > 0 and m["python.data_sent_mb"] > 0
    assert m["q.tpch_q1.wall_s"] == 0.0 and m["q.ann_pq_topk.wall_s"] > 0
    spans = os.path.join(ROOT, "perfbench", ".cache", "spans", "pipeline_sf0.01-seed3.jsonl")
    with open(spans) as f:
        names = {json.loads(line)["name"] for line in f}
    assert {"workload", "session.start", "session.register", "session.warmup",
            "session.restart", "pass", "query", "build", "catalyst", "execute"} <= names


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero without printing a result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    proc = _run(tmp_path, "--workload", "sql_sf0.01", "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
