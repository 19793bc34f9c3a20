"""Structured Streaming operators vs their batch twins.

Each stream runs to completion with trigger(availableNow) into a memory
sink, then is diffed against a batch computation with identical event-time
semantics over the same parquet — batch-as-oracle.
"""

import pytest
from pyspark.sql import functions as F

from datafusion_parallelism_spark.session import load
from datafusion_parallelism_spark.streaming.events import (
    hourly_counts_stream,
    read_events_stream,
    run_to_memory,
    run_to_table,
    session_windows_stream,
    user_running_totals_stream,
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_hourly_counts_matches_batch(spark, sf_dir):
    stream = hourly_counts_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "hourly_mem", output_mode="complete")
    got = _rows(spark.table("hourly_mem"), "hour_start", "event_type")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "value_sum")
    )
    assert got == _rows(batch, "hour_start", "event_type")


def test_session_windows_matches_batch(spark, sf_dir):
    stream = session_windows_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "sessions_mem", output_mode="complete")
    got = _rows(spark.table("sessions_mem"), "user_id", "session_start")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    assert got == _rows(batch, "user_id", "session_start")


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    stream = user_running_totals_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "totals_mem", output_mode="update")
    # update mode may emit a row per key per micro-batch; the LAST emission
    # per user is the final running total.
    mem = spark.table("totals_mem")
    got = {
        r.user_id: (r.n_events, r.value_total)
        for r in mem.collect()  # memory sink appends in batch order; last wins
    }

    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )
    expected = {r.user_id: (r.n, r.total) for r in batch.collect()}
    assert set(got) == set(expected)
    for uid, (n, total) in expected.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(total, abs=0.02)


def test_run_to_table_matches_memory_sink_complete(spark, sf_dir):
    """The distributed foreachBatch parquet sink must hold row-for-row the
    same table content as the memory sink it replaced — complete mode
    (overwrite-per-batch vs truncate+add)."""
    t = run_to_table(
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "rtt_cmp_pq",
        output_mode="complete",
    )
    run_to_memory(
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "rtt_cmp_mem",
        output_mode="complete",
    )
    got = _rows(t, "hour_start", "event_type")
    assert got == _rows(spark.table("rtt_cmp_mem"), "hour_start", "event_type")


def test_run_to_table_matches_memory_sink_append(spark, sf_dir):
    """Append mode: the parquet sink accumulates batches exactly like the
    memory sink's row append."""
    from datafusion_parallelism_spark.streaming.events import dedup_keys_stream

    t = run_to_table(
        dedup_keys_stream(read_events_stream(spark, sf_dir)),
        "rtt_app_pq",
        output_mode="append",
    )
    run_to_memory(
        dedup_keys_stream(read_events_stream(spark, sf_dir)),
        "rtt_app_mem",
        output_mode="append",
    )
    got = _rows(t, "user_id", "event_type")
    assert got == _rows(spark.table("rtt_app_mem"), "user_id", "event_type")


def test_driver_bounded_routes_to_memory_sink(spark, sf_dir):
    """driver_bounded=True (time-range-bounded output) keeps the memory
    sink — no parquet staging dir is created — while the default routes
    the same stream through the parquet staging dir, with identical
    table content either way."""
    import os
    import shutil

    name = "rtt_bounded"
    staged = f"/tmp/spark_graft_stream_out/{os.getpid()}_{name}"
    shutil.rmtree(staged, ignore_errors=True)
    t = run_to_table(
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
        driver_bounded=True,
    )
    mem_rows = _rows(t, "hour_start", "event_type")
    assert not os.path.isdir(staged)
    assert mem_rows
    t2 = run_to_table(
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
    )
    assert os.path.isdir(staged)
    assert _rows(t2, "hour_start", "event_type") == mem_rows


def test_bucketized_totals_emissions_match_per_user(spark, sf_dir):
    """The hash-bucketized applyInPandasWithState operator must emit the
    SAME rows as the per-user-key original (one row per batch-touched
    user with accumulated totals) — only the state key granularity and
    the Python-call batching change.  value_total is rounded to absorb
    the within-batch float summation-order difference (groupby-sum of the
    concatenated chunks vs chunk-sum accumulation)."""
    bucketed = run_to_table(
        user_running_totals_stream(read_events_stream(spark, sf_dir), buckets=16),
        "bt_bucketed",
        output_mode="update",
    )
    per_user = run_to_table(
        user_running_totals_stream(read_events_stream(spark, sf_dir), buckets=0),
        "bt_per_user",
        output_mode="update",
    )

    def canon(df):
        return _rows(
            df.select("user_id", "n_events", F.round("value_total", 6).alias("v")),
            "user_id",
            "n_events",
        )

    assert canon(bucketed) == canon(per_user)


def test_watermark_present_in_plan(spark, sf_dir):
    stream = hourly_counts_stream(read_events_stream(spark, sf_dir))
    assert "watermark" in stream._jdf.queryExecution().analyzed().toString().lower()


def test_checkpoint_incremental_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed file-source → file-sink pipeline processes each input
    file EXACTLY once across restarts: run 1 drains file A; file B lands;
    run 2 (same checkpoint) must process only B — output equals the batch
    result over A+B, with nothing duplicated or lost.  This is the
    recovery contract a 100 TB ingest pipeline relies on."""
    import os

    from pyspark.sql import functions as F

    src = os.path.join(str(tmp_path), "in")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)
    events = os.path.join(sf_dir, "events.parquet")
    os.symlink(events, os.path.join(src, "a.parquet"))

    schema = spark.read.parquet(events).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_purchases = spark.read.parquet(events).filter("event_type = 'purchase'").count()
    assert spark.read.parquet(out).count() == n_purchases

    # Second file lands; restart from the same checkpoint.
    os.symlink(events, os.path.join(src, "b.parquet"))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 2 * n_purchases  # a processed once, b processed once
    # Every event_id appears exactly twice (once per input file) — no
    # partial reprocessing of file A.
    bad = got.groupBy("event_id").count().filter("count != 2").count()
    assert bad == 0


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Event-time watermark semantics: run 1 processes fresh rows and
    persists its watermark (max ts - 2 h) in the checkpoint; run 2 (same
    checkpoint) delivers a row 10 h older than that watermark — it must be
    DROPPED, not aggregated (bounded state depends on it)."""
    import os

    import pandas as pd

    src = os.path.join(str(tmp_path), "wm_in")
    ckpt = os.path.join(str(tmp_path), "wm_ckpt")
    os.makedirs(src)
    t0 = pd.Timestamp("2024-06-01 12:00:00")
    fresh = pd.DataFrame({"ts": [t0, t0 + pd.Timedelta(minutes=30)], "k": ["a", "a"]})
    late = pd.DataFrame({"ts": [t0 - pd.Timedelta(hours=10)], "k": ["a"]})
    # µs precision: ns-timestamp parquet reads as long under the session's
    # nanosAsLong setting, which would clash with the explicit schema.
    fresh.to_parquet(os.path.join(src, "f1.parquet"), coerce_timestamps="us")

    out = os.path.join(str(tmp_path), "wm_out")

    def run_once():
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .parquet(src)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "k")
            .count()
            .select(F.col("w.start").alias("win"), "k", "count")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # watermark (12:30 - 2 h = 10:30) persisted in the checkpoint
    late.to_parquet(os.path.join(src, "f2.parquet"), coerce_timestamps="us")
    run_once()  # the 02:00 row is below the restored watermark -> dropped

    # Append mode emits only finalized windows: after run 2 the 12:00
    # window (finalized once the watermark passed it... it has not) —
    # so assert via a third empty-ish run after a far-future row closes
    # all windows.
    closer = pd.DataFrame({"ts": [t0 + pd.Timedelta(days=2)], "k": ["z"]})
    closer.to_parquet(os.path.join(src, "f3.parquet"), coerce_timestamps="us")
    run_once()  # watermark jumps past every window; finalized rows emit

    got = {
        (r.win, r.k): r["count"]
        for r in spark.read.parquet(out).collect()
    }
    assert got.get((t0.to_pydatetime(), "a")) == 2  # fresh rows aggregated
    late_win = (t0 - pd.Timedelta(hours=10)).to_pydatetime()
    assert (late_win, "a") not in got, got  # late row dropped


def test_foreachbatch_upsert_batch_boundary_independent(spark, sf_dir, tmp_path):
    """Three staged file copies with maxFilesPerTrigger=1 force 3 micro-
    batches; the associative merge (max-of-maxes, sum-of-counts) must
    yield exactly the batch answer over the concatenation, and a second
    incremental file processed from the SAME checkpoint must add in
    without reprocessing the old files (exactly-once)."""
    import os
    import shutil

    from datafusion_parallelism_spark.streaming.events import (
        run_foreachbatch_upsert,
    )

    src = os.path.join(sf_dir, "events.parquet")
    stage = tmp_path / "in"
    stage.mkdir()
    for i in range(3):
        shutil.copy(src, stage / f"events-{i}.parquet")
    batch_schema = spark.read.parquet(src).schema
    target = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        s = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )
        from pyspark.sql.types import TimestampNTZType

        for field in s.schema.fields:
            if isinstance(field.dataType, TimestampNTZType):
                s = s.withColumn(field.name, F.col(field.name).cast("timestamp"))
        return s

    run_foreachbatch_upsert(spark, _stream(), target, ckpt)

    e = spark.read.parquet(src)
    expected = (
        e.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_type")).alias("m"),
            (F.count(F.lit(1)) * 3).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("m.ts").cast("timestamp").alias("last_ts"),
            F.col("m.event_type").alias("last_event_type"),
            "n_events",
        )
    )
    got = spark.read.parquet(target)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))

    # incremental: one more file, same checkpoint -> counts become 4x
    shutil.copy(src, stage / "events-3.parquet")
    run_foreachbatch_upsert(spark, _stream(), target, ckpt)
    got2 = spark.read.parquet(target)
    n_tot = got2.agg(F.sum("n_events")).collect()[0][0]
    assert n_tot == e.count() * 4


def test_bucketized_totals_carry_state_across_micro_batches(spark, sf_dir, tmp_path):
    """Three staged copies of the events with maxFilesPerTrigger=1 run three
    micro-batches, so every bucket's state is written, read back and merged
    twice: each user's last emission must be 3x its batch count and sum,
    and equal the per-user operator's."""
    import os
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    stage = tmp_path / "in"
    stage.mkdir()
    for i in range(3):
        shutil.copy(src, stage / f"events-{i}.parquet")
    batch_schema = spark.read.parquet(src).schema

    def final_totals(buckets, name):
        s = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )
        out = run_to_table(
            user_running_totals_stream(s, buckets=buckets), name, output_mode="update"
        )
        # event counts only grow, so a user's last emission has the largest
        last = out.groupBy("user_id").agg(
            F.max(F.struct("n_events", "value_total")).alias("m")
        )
        return {r.user_id: (r.m.n_events, round(r.m.value_total, 6)) for r in last.collect()}

    bucketed = final_totals(16, "bt_multi_bucketed")
    batch = {
        r.user_id: (3 * r.n, round(3 * r.v, 6))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert bucketed == batch
    assert bucketed == final_totals(0, "bt_multi_per_user")


def test_running_totals_rerun_compiles_no_class(spark, sf_dir):
    """A second run of the stateful stream must reuse every generated class.
    With ``array<...>`` state columns the state encoder's serializer named
    its variables from a JVM-wide counter, so each run compiled one new
    class.  AQE off, as ``benchmark_session`` runs small inputs (with AQE on
    the final plan of a query can vary between runs)."""
    from conftest import with_conf
    from datafusion_parallelism_spark.metrics import codegen_compiles
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.session import force_execute

    def one_run():
        before = codegen_compiles(spark)
        force_execute(REGISTRY["stream_user_running_totals"].fn(spark, sf_dir))
        return codegen_compiles(spark) - before

    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        one_run()
        assert one_run() == 0
