"""Streaming corpus entries.

Each query executes a Structured Streaming plan to completion over the
available files (``trigger(availableNow)``) into a distributed
foreachBatch parquet sink (``run_to_table`` — content-identical to the
memory sink without the driver collect/re-ship hop; queries whose output
is bounded by the time range rather than the data volume pass
``driver_bounded=True`` and keep the cheaper memory sink) and returns the
result table — so the driver's correctness gate can hash-match
streaming semantics against a batch DuckDB oracle where event-time
semantics are SQL-expressible (tumbling windows, final running totals).
Session windows keep ``oracle=None``: gap-based session boundaries are a
stateful construct with no portable single-statement SQL equivalent
(the batch twin is pinned in tests/test_streaming.py instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.files import remove_at_exit
from ..streaming.events import (
    hourly_counts_stream,
    read_events_stream,
    run_foreachbatch_upsert,
    run_to_table,
    session_windows_stream,
    user_running_totals_stream,
)
from .registry import query


@query(
    "stream_hourly_counts",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with watermark, executed as an
    incremental stream; the complete-mode result must equal the batch
    aggregation (same rows DuckDB computes)."""
    t = run_to_table(
        hourly_counts_stream(read_events_stream(spark, sf_dir)),
        "q_stream_hourly",
        output_mode="complete",
        driver_bounded=True,  # O(#hours × #event_types) rows at any corpus size
    )
    return t.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:00").alias("hour_bucket"),
        "event_type",
        "n",
        "value_sum",
    )


@query(
    "stream_user_running_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_total
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) run to completion:
    the final per-user running totals must equal the batch group-by."""
    totals = run_to_table(
        user_running_totals_stream(read_events_stream(spark, sf_dir)),
        "q_stream_totals",
        output_mode="update",
    )
    # update mode emits one row per key per micro-batch; keep the last.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("value_total", 2).alias("value_total"))
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS value_sum
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap session windows under a watermark (built-in
    session_window), run to completion.

    FULL ORACLE via the gaps-and-islands formulation: a session breaks
    where the gap to the previous event is >= 30 min (Spark's session
    window is the half-open [start, last_ts + gap) — an event exactly at
    the close boundary starts a NEW session), session_end = last event +
    gap.  Batch-equivalence is additionally pinned in tests."""
    return run_to_table(
        session_windows_stream(read_events_stream(spark, sf_dir)),
        "q_stream_sessions",
        output_mode="complete",
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchases × clicks within
    30 minutes), run to completion; must equal the batch interval join
    DuckDB computes."""
    from ..streaming.events import purchase_click_join_stream

    return run_to_table(
        purchase_click_join_stream(read_events_stream(spark, sf_dir)),
        "q_stream_ssj",
        output_mode="append",
    )


@query(
    "stream_sliding_counts",
    oracle="""
    SELECT strftime(w, '%Y-%m-%d %H:00') AS window_start,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS value_sum
    FROM (
      SELECT date_trunc('hour', ts) AS w, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w, value FROM events
    )
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h event-time windows run incrementally to completion;
    the batch twin assigns every event to its two hourly-aligned covering
    windows (which is exactly what the oracle's UNION ALL does)."""
    from ..streaming.events import sliding_counts_stream

    t = run_to_table(
        sliding_counts_stream(read_events_stream(spark, sf_dir)),
        "q_stream_sliding",
        output_mode="complete",
        driver_bounded=True,  # O(#windows) rows at any corpus size
    )
    return t.select(
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("window_start"),
        "n",
        "value_sum",
    )


@query(
    "stream_dedup_ids",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (state-store first-wins on the key): the set
    of surviving keys must equal the batch DISTINCT."""
    from ..streaming.events import dedup_keys_stream

    return run_to_table(
        dedup_keys_stream(read_events_stream(spark, sf_dir)),
        "q_stream_dedup",
        output_mode="append",
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           ROUND(e.value, 2) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined per-batch to the
    broadcast customer dimension (stateless — no watermark or join state).
    The completed stream must equal the batch join DuckDB computes."""
    from ..session import load
    from ..streaming.events import static_enrich_stream

    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_to_table(
        static_enrich_stream(read_events_stream(spark, sf_dir), dim),
        "q_stream_enrich",
        output_mode="append",
    )


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT l.user_id, l.ts AS last_ts, l.event_type AS last_event_type,
           c.n_events
    FROM (SELECT user_id, ts, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_type DESC) AS rn
          FROM events) l
    JOIN (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) c
      ON c.user_id = l.user_id
    WHERE l.rn = 1
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC sink: the event stream maintains a per-user
    serving snapshot (latest event + lifetime count) via an associative
    parquet merge (streaming/events.py:run_foreachbatch_upsert).  The
    final snapshot must equal the batch answer regardless of micro-batch
    boundaries — which is exactly what the oracle asserts."""
    import os
    import tempfile

    # A fresh staging directory per call: a reused streaming checkpoint
    # would resume past every micro-batch and return the previous call's
    # snapshot.  Directories are removed when the process exits, so each
    # returned DataFrame stays readable lazily — no driver-side collect of
    # the snapshot.
    root = "/tmp/spark_graft_upsert"
    os.makedirs(root, exist_ok=True)
    base = remove_at_exit(tempfile.mkdtemp(prefix=f"{os.getpid()}_", dir=root))
    target = os.path.join(base, "snapshot")
    checkpoint = os.path.join(base, "ckpt")
    run_foreachbatch_upsert(
        spark, read_events_stream(spark, sf_dir), target, checkpoint
    )
    return spark.read.parquet(target)
