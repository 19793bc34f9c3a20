"""Registered streaming corpus entries vs DuckDB oracle."""

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.testing import compare_to_oracle

ORACLE_NAMES = sorted(
    n for n in REGISTRY if n.startswith("stream_") and REGISTRY[n].oracle
)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_stream_query_matches_oracle(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"


def test_stream_session_windows_runs(spark, sf_dir_oracle):
    df = REGISTRY["stream_session_windows"].fn(spark, sf_dir_oracle)
    assert df.count() > 0


def test_foreachbatch_upsert_second_call_streams_fresh(spark, sf_dir, monkeypatch):
    """Each call of stream_foreachbatch_upsert stages into its own
    directory, so a second call in the same session runs its micro-batches
    instead of resuming past them from the first call's streaming
    checkpoint and returning the first call's snapshot."""
    import os

    from datafusion_parallelism_spark.queries import streaming

    runs = []
    real = streaming.run_foreachbatch_upsert

    def spy(spark, events, target, checkpoint):
        fresh = not os.path.exists(checkpoint)
        real(spark, events, target, checkpoint)
        commits = os.listdir(os.path.join(checkpoint, "commits"))
        runs.append((checkpoint, fresh, sum(c.isdigit() for c in commits)))

    monkeypatch.setattr(streaming, "run_foreachbatch_upsert", spy)
    first = REGISTRY["stream_foreachbatch_upsert"].fn(spark, sf_dir)
    second = REGISTRY["stream_foreachbatch_upsert"].fn(spark, sf_dir)
    (ckpt1, _, batches1), (ckpt2, fresh2, batches2) = runs
    assert ckpt1 != ckpt2 and fresh2, runs
    assert batches1 >= 1 and batches2 >= 1, runs
    # The first call's snapshot stays readable after the second call.
    assert first.count() == second.count() > 0
