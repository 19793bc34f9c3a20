"""Pin the shuffle-partition sizing rule (session.auto_shuffle_partitions).

The rule must hold across five orders of magnitude: tiny inputs get one
reducer per 4 MB, down to one (scheduling cost dominates), mid-range
inputs keep every core busy (the measured 2-4x mid-scale cliff when 73 MB
got 3 reducers on 32 cores), and huge inputs hit the 4x-cores cap that
bounds task-scheduling overhead at cluster scale."""

import os

import pytest

from datafusion_parallelism_spark.session import auto_shuffle_partitions

from conftest import spy_calls, with_conf

MB = 1024 * 1024


def _dir_of_size(tmp_path, n_bytes):
    p = tmp_path / "data.parquet"
    with open(p, "wb") as f:
        f.truncate(n_bytes)
    return str(tmp_path)


def test_tiny_input_stays_at_minimum(tmp_path):
    """2 MB gets one reducer, whatever the core count: at sf0.01 (1.9 MB)
    on 4 cores, 1 reducer instead of the former fixed floor of 4 cut a
    traced sql_sf0.01 pass from 82 to 38 tasks and its summed stage run
    time from 1005 to 512 ms, with the same 24 jobs."""
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, 2 * MB), cpus=32) == 1


@pytest.mark.parametrize(
    "n_bytes, want",
    [
        (int(1.9 * MB), 1),  # sf0.01
        (12 * MB, 3),  # below 4 MB x cores: ceil(12 / 4)
        (17 * MB, 4),  # sf0.1: one reducer per core
    ],
)
def test_small_inputs_get_one_reducer_per_4mb_on_4_cores(tmp_path, n_bytes, want):
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, n_bytes), cpus=4) == want


def test_midrange_input_keeps_cores_busy(tmp_path):
    # 73 MB on 32 cores: bytes rule alone would give 3; occupancy floor
    # (4 MB/core) must lift it to 19.
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, 73 * MB), cpus=32) == 19


def test_full_occupancy_above_128mb(tmp_path):
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, 150 * MB), cpus=32) == 32


def test_bytes_rule_takes_over_at_scale(tmp_path):
    # 3 GB / 32 MB = 96 partitions: above the occupancy floor and cores,
    # below the 4x-cores cap.
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, 3072 * MB), cpus=32) == 96


def test_capped_at_4x_cores(tmp_path):
    assert auto_shuffle_partitions(_dir_of_size(tmp_path, 100 * 1024 * MB), cpus=32) == 128


def test_empty_dir_falls_back_to_cores(tmp_path):
    assert auto_shuffle_partitions(str(tmp_path), cpus=32) == 32


def _parquet_with_row_groups(tmp_path, n_rows, rows_per_group, pad=2000):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Incompressible payload so the file is big enough for the byte-based
    # split estimate to exceed the row-group count.
    import random

    rng = random.Random(0)
    tbl = pa.table(
        {
            "doc_id": list(range(n_rows)),
            "text": [
                "".join(chr(rng.randrange(33, 127)) for _ in range(pad))
                for _ in range(n_rows)
            ],
        }
    )
    path = str(tmp_path / "docs.parquet")
    pq.write_table(tbl, path, row_group_size=rows_per_group)
    return path


def test_parquet_scan_tasks_capped_by_row_groups(tmp_path):
    """Round-7 x256 cliff: byte-range splits beyond the row-group count are
    EMPTY tasks — the effective-parallelism estimate must not count them,
    else spread_for_compute skips the repartition exactly when a
    big-row-group text corpus needs it (gram explode on 11 of 32 cores)."""
    from datafusion_parallelism_spark.session import (
        est_scan_partitions,
        parquet_scan_tasks,
        path_size,
    )

    path = _parquet_with_row_groups(
        tmp_path, n_rows=3000, rows_per_group=1000, pad=6000
    )
    byte_est = est_scan_partitions(path_size(path), parallelism=32)
    assert byte_est > 3  # ~18 MB incompressible -> bytes rule says > 3 splits
    assert parquet_scan_tasks(path, parallelism=32) == 3  # but 3 row groups


def test_parquet_scan_tasks_bytes_rule_when_groups_plentiful(tmp_path):
    """Many small row groups: the byte estimate is the binding constraint
    (row groups don't LIFT parallelism above the split count)."""
    from datafusion_parallelism_spark.session import parquet_scan_tasks

    path = _parquet_with_row_groups(
        tmp_path, n_rows=3000, rows_per_group=10, pad=100
    )
    # 300 row groups but a sub-4MB file: bytes rule gives 1.
    assert parquet_scan_tasks(path, parallelism=32) == 1


def test_spread_for_compute_repartitions_on_row_group_bound_file(tmp_path, spark):
    """End-to-end x256-cliff shape: byte estimate >= target > row groups.

    The pre-fix code (bytes-only estimate) sees current >= target and SKIPS
    the repartition — exactly the r7 cliff — so this test fails without the
    row-group cap.  The ~18 MB file yields 5 byte-splits on 32-way
    parallelism; target 4 sits strictly between the byte estimate and the
    3 row groups, reproducing the cliff ordering without a >=128 MB fixture
    (ADVICE r7: the earlier target=32 version passed pre-fix too, because
    2 byte-splits were already < 32)."""
    from datafusion_parallelism_spark.session import (
        est_scan_partitions,
        parquet_scan_tasks,
        path_size,
        spread_for_compute,
    )

    path = _parquet_with_row_groups(
        tmp_path, n_rows=3000, rows_per_group=1000, pad=6000
    )
    target = 4
    byte_est = est_scan_partitions(path_size(path), parallelism=32)
    assert byte_est >= target > 3  # the cliff ordering this test exists for
    assert parquet_scan_tasks(path, parallelism=32) == 3
    df = spark.read.parquet(path)
    out = spread_for_compute(df, target=target, input_path=path)
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_tasks_sums_row_groups_across_directory(tmp_path):
    """A directory of part files (the register_tables layout, and the
    round-8 multi-file scale replicas) must keep the row-group cap by
    summing footers across members — previously a directory raised inside
    pyarrow and the bytes-only estimate silently returned, re-opening the
    r7 empty-split cliff on partitioned corpora (ADVICE r7)."""
    from datafusion_parallelism_spark.session import (
        est_scan_partitions,
        parquet_scan_tasks,
        path_size,
    )

    table_dir = tmp_path / "docs.parquet"
    table_dir.mkdir()
    for i in range(2):
        _parquet_with_row_groups(
            table_dir, n_rows=3000, rows_per_group=1000, pad=6000
        )
        (table_dir / "docs.parquet").rename(table_dir / f"part-{i}.parquet")
    path = str(table_dir)
    byte_est = est_scan_partitions(path_size(path), parallelism=32)
    assert byte_est > 6  # bytes rule alone over-counts (~36 MB -> 9 splits)
    assert parquet_scan_tasks(path, parallelism=32) == 6  # 3 groups x 2 files


def test_parquet_scan_tasks_empty_directory_falls_back_to_bytes(tmp_path):
    from datafusion_parallelism_spark.session import parquet_scan_tasks

    d = tmp_path / "empty.parquet"
    d.mkdir()
    assert parquet_scan_tasks(str(d), parallelism=32) == 1


def test_aqe_coalesce_respects_advisory_size(spark):
    """Pin the r9 spill-cliff fix AND its r10 correction.  A 64 MB (default)
    advisory lets coalescing merge every exchange into one wave of
    maximum-size sorts, whose per-task state grows linearly with data
    volume — at the x256 replica that crossed the execution-memory pool and
    spilled 5.4 GB where x128 spilled zero (BASELINE.md §Round 9,
    docs/decomp_chain_r9.jsonl).  The 16 MB advisory bounds per-task sort
    state so data growth adds task waves instead.

    parallelismFirst must stay TRUE (Spark's default): the fix first
    shipped with false, which sets coalesce minNumPartitions to 1 so every
    sub-512 MB exchange collapsed below one task per core — small/mid
    queries ran 1.4–2.8× slower at x64 (r10 registry audit).  With true the
    target is max(min(total/parallelism, advisory), 1MB), so the 16 MB sort
    bound is strictly preserved for big exchanges while small ones keep
    full parallelism (BASELINE.md §Round 10,
    docs/full_registry_x64_r10_notes.md)."""
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        == "true"
    )
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == "16MB"
    )


def test_fanout_join_probe_side_is_spread(spark, sf_dir):
    """Pin the r10 fan-out-probe fix (BASELINE.md §Round 10 item 5): the
    null-key joins probe a broadcast supplier hash with the full customer
    table on a 25-value key domain, so output is ~2,500x input — but a
    broadcast join adds no exchange, leaving output parallelism equal to
    the probe-side scan's INPUT-byte-sized splits (3 tasks at the x64
    replica; 161 s -> 27 s once spread).  The queries must keep the
    probe-side round-robin spread to session width whenever the scan is
    narrower than the core count.  Pinned via the plan shape (a
    RoundRobinPartitioning exchange at session width below the join) —
    the RUNTIME partition count is AQE's to coalesce at tiny scale, and
    that adaptivity is desired, not a regression."""
    from datafusion_parallelism_spark.queries import REGISTRY

    target = spark.sparkContext.defaultParallelism
    for name in ("join_nullsafe", "join_inner_null_keys"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        assert f"RoundRobinPartitioning({target})" in plan, (name, plan)


def test_pair_exchange_width_is_data_ahead_4x(spark, sf_dir, monkeypatch):
    """Pin the Σn² pair-width rule of operators/pairs.py at all seven pair
    sites, under both AQE settings (MinHash at ceiling 0, where its band
    candidates go through the operator; the stream is taken before its
    lazy checkpoint): the pair-keyed exchange runs at
    4 × max(cores, session width) with AQE on — one decade of pair-volume
    headroom over the input-sized session conf, measured spill-free
    through x256 — and at 1 × with AQE off, the small-input posture where
    extra reducers only cost CPU (measured on graph_triangle_counts'
    distributed co-purchase path at sf0.01, 4 cores: median 1.90 s CPU at
    1x vs 2.29 s at 4x).  The origin is pinned too:
    REPARTITION_BY_NUM is never coalesced, and a coalescable exchange (a
    rebalance or a column-only repartition) would let AQE shrink the
    width back to its shuffle-bytes target, which the count's hash state
    outgrows 40-90x (operators/pairs.py _pair_width).
    A derived Σn² width was considered and rejected twice (r10, r11): the
    estimate needs an eager materialization of the lazy pair input inside
    every query path.  If a deployment outgrows the decade, raise
    operators/pairs.py _PAIR_WIDTH_FACTOR — this test documents that
    contract."""
    import re

    from datafusion_parallelism_spark.queries import REGISTRY, llm
    from datafusion_parallelism_spark.queries.graph import co_purchase_edges

    base = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    pair_key = re.compile(
        r"hashpartitioning\((?:doc_a|u)#\d+L?, (?:doc_b|v)#\d+L?, (\d+)\), (\w+)"
    )
    for aqe, want in (("true", str(4 * base)), ("false", str(base))):
        with with_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
            pu = spark.createDataFrame([(1, 1), (1, 2), (2, 1), (2, 2)], "o long, p long")
            sites = {
                name: REGISTRY[name].fn(spark, sf_dir)
                for name in (
                    "dedup_ngram_jaccard",
                    "dedup_containment",
                    "dedup_winnow_spans",
                    "dedup_winnow_hot_spans",
                    "dedup_simhash_pairs",
                )
            }
            sites["co_purchase_edges"] = co_purchase_edges(pu.repartition("o"))
            with monkeypatch.context() as m:
                m.setattr(llm, "_MINHASH_KERNEL_MAX_DOCS", 0)
                cands = spy_calls(m, llm, "_minhash_candidates")
                REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
            (sites["minhash_candidates"],) = cands
            for name, df in sites.items():
                plan = df._jdf.queryExecution().sparkPlan().toString()
                exchanges = pair_key.findall(plan)
                assert exchanges == [(want, "REPARTITION_BY_NUM")], (name, aqe, plan)
