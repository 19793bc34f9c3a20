"""Analytics corpus: windows, rollup/cube/grouping sets, set ops, events.

SURVEY §2.B marks window functions, grouping sets, and set operations as
"available in Spark if scope grows" (the reference's DataFusion engine
supports them; its TPC-H corpus doesn't reach them).  They are part of the
capability envelope, so they get first-class queries + oracles here.  The
``events`` table queries are the batch analog of the streaming scope
(FIXTURES.md §3): time-bucketed aggregation, JSON extraction, and
gap-based sessionization.

Entry point: where Spark also analyzes the DuckDB oracle text, the query
is that one SQL text, run by ``spark.sql`` over the registered views as
the reference passes SQL to ``ctx.sql`` (src/parse_sql.rs:73-76), so the
measured text and the checked text cannot drift apart.  A query keeps a
DataFrame builder when its oracle is DuckDB-only SQL, or for the reason
its docstring gives (a sketch or sampling property check, a dedicated
operator, the DataFrame-API parity set);
``tests/test_entrypoint_parity.py`` lists each such reason and fails if
any other query's plan stops being ``spark.sql`` of its oracle.

Determinism notes: events.ts is nanosecond-precision in parquet; Spark
truncates to µs, DuckDB keeps ns — so event-time outputs are emitted as
formatted strings or integer epoch seconds, never raw timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import equi_join
from ..session import load, sql
from .registry import query


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------
@query(
    "window_rank_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rnk
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) t
    WHERE rnk <= 3
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ROW_NUMBER (deterministic tiebreak).
    Scale: single shuffle on c_custkey; no skew risk (bounded per-customer
    order counts)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    j = equi_join(c, o, [("c_custkey", "o_custkey")])
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rnk")
    )


_WINDOW_RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_spend
FROM orders
"""


@query("window_running_total", oracle=_WINDOW_RUNNING_TOTAL_SQL)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend — ordered ROWS frame (identical
    accumulation order on both engines → fp-stable)."""
    return sql(spark, sf_dir, _WINDOW_RUNNING_TOTAL_SQL)


@query(
    "window_range_frame_30d",
    oracle="""
    SELECT o_custkey, o_orderkey,
           COUNT(*) OVER w AS n_trailing,
           ROUND(SUM(o_totalprice) OVER w, 2) AS sum_trailing
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based (RANGE) window frame: each order's trailing-30-day
    count/spend for its customer.  RANGE frames include all ties of the
    ordering value, so the result is deterministic without a unique
    tiebreak — unlike ROWS frames.  Spark requires a numeric ordering for
    offset RANGE frames → order by epoch seconds (whole-day timestamps,
    so ns→µs truncation and double-epoch on the oracle side agree
    exactly)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        # NTZ→LTZ→long: Spark 4 forbids a direct TIMESTAMP_NTZ→BIGINT cast;
        # the session timezone is pinned UTC, so this epoch equals DuckDB's
        # epoch() of the same naive timestamp.
        F.col("o_orderdate").cast("timestamp").cast("long").alias("ts"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("ts")
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_trailing"),
    )


_WINDOW_DENSE_RANK_ACCTBAL_SQL = """
SELECT c_nationkey, c_custkey, drnk
FROM (
  SELECT c_nationkey, c_custkey,
         DENSE_RANK() OVER (PARTITION BY c_nationkey
                            ORDER BY ROUND(c_acctbal, 2) DESC) AS drnk
  FROM customer
) t
WHERE drnk <= 5
"""


@query("window_dense_rank_acctbal", oracle=_WINDOW_DENSE_RANK_ACCTBAL_SQL)
def window_dense_rank_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE_RANK over rounded balance (rounding keeps rank ties
    engine-independent)."""
    return sql(spark, sf_dir, _WINDOW_DENSE_RANK_ACCTBAL_SQL)


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------
_ROLLUP_LINEITEM_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("rollup_lineitem", oracle=_ROLLUP_LINEITEM_SQL)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total)."""
    return sql(spark, sf_dir, _ROLLUP_LINEITEM_SQL)


_CUBE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("cube_orders", oracle=_CUBE_ORDERS_SQL)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority (all 4 grouping combinations)."""
    return sql(spark, sf_dir, _CUBE_ORDERS_SQL)


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@query("grouping_sets_revenue", oracle=_GROUPING_SETS_SQL)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (via spark.sql — syntax parity both engines)."""
    return sql(spark, sf_dir, _GROUPING_SETS_SQL)


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
_SETOP_UNION_ALL_SQL = """
SELECT nk, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey AS nk FROM supplier
) u GROUP BY nk
"""


@query("setop_union_all", oracle=_SETOP_UNION_ALL_SQL)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + re-aggregation (union is a no-shuffle concat in Spark)."""
    return sql(spark, sf_dir, _SETOP_UNION_ALL_SQL)


_SETOP_INTERSECT_SQL = """
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
"""


@query("setop_intersect", oracle=_SETOP_INTERSECT_SQL)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics — planned as a left-semi aggregate)."""
    return sql(spark, sf_dir, _SETOP_INTERSECT_SQL)


_SETOP_EXCEPT_SQL = """
SELECT c_nationkey AS nk FROM customer
EXCEPT
SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 5000
"""


@query("setop_except", oracle=_SETOP_EXCEPT_SQL)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT distinct semantics (anti-join under the hood) — nations with
    customers but no high-balance suppliers (filter keeps it non-empty)."""
    return sql(spark, sf_dir, _SETOP_EXCEPT_SQL)


# --------------------------------------------------------------------------
# Events: time buckets, JSON, sessionization
# --------------------------------------------------------------------------
@query(
    "events_hourly",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregation (batch analog of a streaming
    window; the streaming/ module runs the same logic incrementally).
    Bucket emitted as a string because events.ts is ns-precision."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the props column (semi-structured
    path: get_json_object stays JVM-side, no UDF)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("int")), 4).alias("avg_k"),
    )


@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(floor(epoch(ts)) AS BIGINT)
               - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps
    GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via LAG + conditional
    count — the classic shuffle-once sessionizer.  Timestamps compared as
    floored epoch seconds (ns-precision-safe).  Scale: one shuffle on
    user_id; skewed power users handled by AQE."""
    e = load(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select("user_id", sec.alias("sec"), (sec - F.lag(sec).over(w)).alias("gap"))
    return gaps.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("gap").isNull() | (F.col("gap") > 1800), 1).otherwise(0)
        ).cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_pivot_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events
    GROUP BY 1
    """,
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type pivot (explicit value list → single-pass plan, no
    extra distinct-values job)."""
    e = load(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) over one table, rewritten as per-column
    distinct→count aggregations joined on the (3-row) group key.

    Spark plans multi-distinct via Expand — every scan row is tripled
    (one replica per distinct column + one for the plain count) and a
    single partial aggregate deduplicates the union of BOTH key domains
    at once, so its per-task hash table carries ~3× the rows and the sum
    of both cardinalities.  At the x256 replica (154 M rows) that table
    outgrows the per-task execution-memory share and falls back to
    sort-based spilling: measured 21.5–30.6 s vs 14.8 s for this split
    form (each partial dedup holds ONE column's domain), and the split
    is also faster at sf0.1 (0.69 s vs 0.76 s mean of 5) because the
    Expand triples even a toy scan.  The group-key join is a broadcast
    of ≤|distinct flags| rows per side — never a data-sized shuffle.

    NULL semantics (ADVICE r5): counting the VALUE column after
    distinct() — not count(lit(1)) — makes each branch match
    COUNT(DISTINCT x)'s ignore-NULLs rule when the counted column is
    nullable.  The group-key joins are eqNullSafe (ADVICE r6): a NULL
    l_returnflag forms a group under GROUP BY, and a plain equi-join
    would silently drop it — null-safe equality keeps the rewrite
    value-identical on arbitrary data (pinned by a NULL-group-key
    differential test in tests/test_agg_rewrites.py), at no cost since
    the joined sides are ≤|distinct flags| rows."""
    l = load(spark, sf_dir, "lineitem")
    return _multi_distinct_counts(l)


def _multi_distinct_counts(l: DataFrame) -> DataFrame:
    """The de-Expand rewrite body, factored for differential testing on
    synthetic (incl. NULL-bearing) inputs — see agg_count_distinct."""
    supp = (
        l.select("l_returnflag", "l_suppkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("l_suppkey").alias("n_supp"))
    )
    part = (
        l.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("l_partkey").alias("n_part"))
    )
    n = l.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    # Explicit broadcast: the joined sides are ≤|distinct flags| rows, but
    # static size estimates for aggregates exceed the broadcast threshold
    # and would plan SortMergeJoin (AQE converts at runtime; the hint makes
    # the static plan right too).  eqNullSafe keeps a NULL group.
    jp = (
        supp.alias("s")
        .join(
            F.broadcast(part.alias("p")),
            F.col("s.l_returnflag").eqNullSafe(F.col("p.l_returnflag")),
        )
        .select(F.col("s.l_returnflag").alias("l_returnflag"), "n_supp", "n_part")
    )
    return (
        jp.alias("sp")
        .join(
            F.broadcast(n.alias("t")),
            F.col("sp.l_returnflag").eqNullSafe(F.col("t.l_returnflag")),
        )
        .select(
            F.col("sp.l_returnflag").alias("l_returnflag"), "n_supp", "n_part", "n"
        )
    )


# --------------------------------------------------------------------------
# As-of join (custom operator; DuckDB's native ASOF JOIN is the oracle)
# --------------------------------------------------------------------------
@query(
    "events_asof_last_click",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id,
             arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.purchase_id, p.purchase_value, c.click_id, c.click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness: each purchase joined to the user's most
    recent click at-or-before it (operators/asof.py, union+window — one
    key shuffle, no range-join expansion).  Clicks are deduped to one row
    per (user, ts) with max_by so tie resolution is deterministic in both
    engines; the oracle is DuckDB's NATIVE ASOF JOIN."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts"
    ).select("user_id", "purchase_id", "purchase_value", "click_id", "click_value")


@query(
    "events_asof_within_1h",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id,
             arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    m AS (
      SELECT p.user_id, p.purchase_id, p.purchase_value, p.ts,
             (SELECT MAX(c.ts) FROM clicks c
              WHERE c.user_id = p.user_id AND c.ts <= p.ts
                AND c.ts >= p.ts - INTERVAL 1 HOUR) AS click_ts
      FROM purchases p
    )
    SELECT m.user_id, m.purchase_id, m.purchase_value,
           c.click_id, c.click_value
    FROM m LEFT JOIN clicks c
      ON c.user_id = m.user_id AND c.ts = m.click_ts
    """,
)
def events_asof_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas ``merge_asof(tolerance=...)``
    semantics): each purchase gets the user's most recent click, but only
    if it happened within the preceding hour — stale matches null out.
    The tolerance is a per-row predicate AFTER the union+window fill, so
    the plan keeps the one-key-shuffle/no-range-expansion shape of the
    base operator (operators/asof.py).  The oracle expresses the same
    bound as a correlated scalar subquery (DuckDB's native ASOF JOIN has
    no tolerance clause)."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        tolerance="1 HOUR",
    ).select("user_id", "purchase_id", "purchase_value", "click_id", "click_value")


# --------------------------------------------------------------------------
# Sketch aggregates (approximate; no SQL-exact oracle by construction)
# --------------------------------------------------------------------------
@query(
    "agg_approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n,
           TRUE AS hll_within_bound
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user counts per event type (rsd 1%).
    At 100 TB this is THE distinct-count: exact distinct shuffles every
    value, HLL merges fixed-size sketches map-side.

    PROPERTY ORACLE: the HLL estimate itself is engine-specific, so the
    compared output carries (a) the exact distinct count — which DuckDB
    recomputes — and (b) ``hll_within_bound``: |approx − exact| / exact
    ≤ 5 × rsd, i.e. five standard errors of the published HLL++ bound.
    A sketch bug flips the boolean and breaks the hash match; the exact
    side doubles as the audit column.  (Error magnitude is additionally
    pinned in tests/test_sketches.py.)

    The sketch and the exact count run as SEPARATE aggregations joined on
    the tiny per-type result — never in one .agg().  Mixing a distinct
    aggregate with a non-distinct one makes RewriteDistinctAggregates key
    the first partial aggregate by (group key, distinct key, gid), so
    every imperative aggregate buffer — here the rsd-1% HLL++ sketch,
    ~16 KB of registers — is allocated per (event_type, user_id) GROUP
    instead of per event_type: |users| sketches, not |types|.  Ledger at
    the x64 replica: 15 GB peak execution memory and 75 GB memory-spill
    in that one partial stage.  Split, each pass is the shape HLL exists
    for: fixed-size sketches merged map-side (|types| × 16 KB total) next
    to a plain two-phase exact distinct; the join adds one exchange of
    |types| rows."""
    e = load(spark, sf_dir, "events")
    sketch = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        F.count(F.lit(1)).alias("n"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("hll_within_bound"),
        )
    )


@query(
    "agg_value_quantiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def agg_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles (p50/p90/p99) of event value
    per type (accuracy 1/10000).  Mergeable-sketch path, same scale story
    as HLL.

    PROPERTY ORACLE — the true GK rank guarantee: the element returned
    for quantile q has rank within n·q ± n·ε (ε = 1/accuracy).  The check
    counts, per group, how many values fall strictly below / at-or-below
    each returned element and asserts the rank fraction is within
    ε + 2/n of q (the 2/n term absorbs element-granularity: the sketch
    returns an actual element, not an interpolated value).  Compared
    output is the per-type booleans (oracle side: TRUE) plus the row
    count — a sketch regression flips a boolean and breaks the hash
    match.  Error magnitude additionally pinned in tests/test_sketches.py."""
    e = load(spark, sf_dir, "events")
    eps = 1.0 / 10000
    sketch = e.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("q"),
    )
    joined = e.join(F.broadcast(sketch), "event_type")
    checked = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("value") < F.col("q")[i]).cast("long")).alias(f"lt{i}")
            for i in range(3)
        ],
        *[
            F.sum((F.col("value") <= F.col("q")[i]).cast("long")).alias(f"le{i}")
            for i in range(3)
        ],
    )
    tol = F.lit(eps) + 2.0 / F.col("n")
    ok = [
        (
            (F.col(f"lt{i}") / F.col("n") <= q + tol)
            & (F.col(f"le{i}") / F.col("n") >= q - tol)
        ).alias(name)
        for i, (q, name) in enumerate([(0.5, "p50_ok"), (0.9, "p90_ok"), (0.99, "p99_ok")])
    ]
    return checked.select("event_type", "n", *ok)


# --------------------------------------------------------------------------
# Heavy hitters / anomaly detection (training-pipeline data-quality ops)
# --------------------------------------------------------------------------
@query(
    "agg_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    HAVING COUNT(*) * 1000 > (SELECT COUNT(*) FROM events) * 8
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-item mining: users contributing > 0.8% of all events.
    Two aggregations, no driver action: the single-row global total is
    broadcast against the per-user counts, and the support predicate is
    integer cross-multiplication (no float threshold wobble).  At 100 TB
    both aggs are map-side partial; the broadcast side is one row.  The
    pattern is the exact pre-filter for skew mitigation — its output is
    what operators/skew.py expects as the hot-key list."""
    ev = load(spark, sf_dir, "events").select("user_id")
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("n_events") * 1000 > F.col("n_total") * 8)
        .select("user_id", "n_events")
    )


_EVENTS_ANOMALY_ZSCORE_SQL = """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_POP(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, ROUND((e.value - s.mu) / s.sigma, 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS(e.value - s.mu) > 3 * s.sigma
"""


@query("events_anomaly_zscore", oracle=_EVENTS_ANOMALY_ZSCORE_SQL)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type (|z| > 3) — the standard
    numeric data-quality gate in a training pipeline.  The per-type
    mean/stddev aggregate is a handful of rows, broadcast back against the
    full stream; the event table itself never shuffles."""
    return sql(spark, sf_dir, _EVENTS_ANOMALY_ZSCORE_SQL)


# --------------------------------------------------------------------------
# MERGE / upsert snapshot (operators/merge.py)
# --------------------------------------------------------------------------
@query(
    "merge_orders_cdc",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice * 1.1, 2) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    ),
    source AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
    merged AS (
      SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END
               AS o_totalprice,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END
               AS o_orderstatus
      FROM orders t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_orders_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE: a deterministic change batch (10%% price updates +
    ~1%% inserted keys) upserted into orders via the full-outer-join
    snapshot writer (operators/merge.py), then summarized.  The oracle
    computes the merged snapshot independently with the same FULL JOIN
    formulation."""
    from ..operators.merge import merge_upsert

    o = load(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.1, 2)
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    source = updates.unionByName(inserts)
    merged = merge_upsert(o, source, on="o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# --------------------------------------------------------------------------
# Interval (range) join (operators/ranges.py, bucketized exact form)
# --------------------------------------------------------------------------
@query(
    "events_interval_first6h",
    oracle="""
    WITH spans AS (SELECT user_id, MIN(ts) AS s FROM events GROUP BY user_id)
    SELECT e.user_id, COUNT(*) AS n_first6h, ROUND(SUM(e.value), 2) AS value_first6h
    FROM events e
    JOIN spans ON e.user_id = spans.user_id
              AND e.ts >= spans.s AND e.ts <= spans.s + INTERVAL 6 HOUR
    GROUP BY e.user_id
    """,
)
def events_interval_first6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity inside the 6-hour interval opened by their first
    event — an interval join of events against derived (user, start, end)
    spans through the bucketized range-join operator (1-hour buckets;
    exact BETWEEN refinement after the (key, bucket) equi-join)."""
    from ..operators.ranges import interval_join

    e = load(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(F.min("ts").alias("span_start"))
    spans = spans.withColumn(
        "span_end", F.col("span_start") + F.expr("INTERVAL 6 HOURS")
    )
    joined = interval_join(
        e.select("user_id", "ts", "value"),
        spans,
        key="user_id",
        left_ts="ts",
        right_start="span_start",
        right_end="span_end",
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_first6h"),
        F.round(F.sum("value"), 2).alias("value_first6h"),
    )


# --------------------------------------------------------------------------
# Additional window-function coverage (lag/lead, ntile, percent_rank)
# --------------------------------------------------------------------------
_WINDOW_LAG_LEAD_ORDERS_SQL = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       ROUND(o_totalprice - LAG(o_totalprice) OVER w, 2) AS price_delta
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_lag_lead_orders", oracle=_WINDOW_LAG_LEAD_ORDERS_SQL)
def window_lag_lead_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence navigation (LAG/LEAD + delta) — the
    classic change-over-time window; one shuffle on the partition key."""
    return sql(spark, sf_dir, _WINDOW_LAG_LEAD_ORDERS_SQL)


_WINDOW_NTILE_PCTRANK_SQL = """
SELECT c_custkey,
       NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile,
       ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pct_rank
FROM customer
"""


@query("window_ntile_pctrank", oracle=_WINDOW_NTILE_PCTRANK_SQL)
def window_ntile_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global decile + percentile rank of customers by balance (ties
    totalized by custkey so bucket boundaries are engine-independent).
    Single-partition window — fine for ranked dashboards; at 100 TB a
    global rank would be computed via range-partitioned sort instead."""
    return sql(spark, sf_dir, _WINDOW_NTILE_PCTRANK_SQL)


# --------------------------------------------------------------------------
# Scalar-function surface (date arithmetic / EXTRACT / CASE / LIKE / strings)
# --------------------------------------------------------------------------
@query(
    "scalar_functions",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mo,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_day,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 50000 THEN 'mid'
                ELSE 'low' END AS bucket,
           upper(substr(o_orderpriority, 1, 3)) AS pri3,
           CAST(o_orderpriority LIKE '%URGENT%' AS INT) AS is_urgent,
           ROUND(o_totalprice * 0.07 + 5, 2) AS fee
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderkey % 7 = 0
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface in one query: EXTRACT, date + INTERVAL,
    CASE, LIKE, substring/upper, arithmetic — the expression classes the
    reference obtains from DataFusion's scalar library (SURVEY §2.B).
    All whole-stage-codegen JVM expressions over one scan."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderkey") % 7 == 0)
    )
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd").alias(
            "due_day"
        ),
        F.when(F.col("o_totalprice") >= 200000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("pri3"),
        F.col("o_orderpriority").like("%URGENT%").cast("int").alias("is_urgent"),
        F.round(F.col("o_totalprice") * 0.07 + 5, 2).alias("fee"),
    )


@query(
    "events_pivot_native",
    oracle="""
    SELECT user_id % 10 AS cohort,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events
    GROUP BY 1
    """,
)
def events_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DataFrame ``groupBy().pivot(values=...).count()`` (vs the
    CASE-based formulation in events_pivot_daily): explicit pivot values
    keep the plan static — no pre-pass distinct scan, which is the
    at-scale requirement."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", ["click", "purchase", "error"])
        .count()
        .na.fill(0, ["click", "purchase", "error"])
    )


_EVENTS_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS did_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                     THEN 1 ELSE 0 END) AS BIGINT) AS then_click,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                      AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS then_purchase
FROM per_user
"""


@query("events_funnel", oracle=_EVENTS_FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → first later click → first later
    purchase): conditional MIN per step, then ordering predicates — one
    shuffle on user_id, one tiny global rollup.  The standard product-
    analytics shape at any scale."""
    return sql(spark, sf_dir, _EVENTS_FUNNEL_SQL)


_WINDOW_TOPK_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t WHERE rn <= 3
"""


@query("window_topk_per_group", oracle=_WINDOW_TOPK_PER_GROUP_SQL)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (row_number over a total order — ties
    broken by the unique orderkey so the cutoff is deterministic).  One
    shuffle on the group key; Spark's WindowGroupLimit pushes the limit
    into the sort so each partition keeps only 3 rows per key."""
    return sql(spark, sf_dir, _WINDOW_TOPK_PER_GROUP_SQL)


@query(
    "agg_exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per group (linear-interpolation definition, same
    as quantile_cont) — complements the approximate agg_value_quantiles
    sketch: exact needs a per-group sort, which is why the approximate
    variant is the default at 100 TB and this one is the auditing tool."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


_EVENTS_RETENTION_COHORT_SQL = """
WITH firstw AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE) AS activity_week,
       COUNT(DISTINCT e.user_id) AS users
FROM events e JOIN firstw f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@query("events_retention_cohort", oracle=_EVENTS_RETENTION_COHORT_SQL)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: each user's first-seen week × every week
    they were active, distinct-user counts.  Two shuffles on user_id (the
    cohort table then broadcast-joins back at scale) + one small
    aggregation on (cohort, week) — the standard retention-matrix plan."""
    return sql(spark, sf_dir, _EVENTS_RETENTION_COHORT_SQL)


@query(
    "agg_unpivot_measures",
    oracle="""
    SELECT measure,
           ROUND(SUM(value), 2) AS total,
           ROUND(AVG(value), 6) AS mean,
           COUNT(*) AS n
    FROM (
      SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY measure
    """,
)
def agg_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt via stack()) + per-measure stats — the
    inverse of the pivot queries.  stack() multiplies rows map-side without
    a shuffle; the aggregation then shuffles only (measure) keys."""
    lineitem = load(spark, sf_dir, "lineitem")
    long = lineitem.select(
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, value)"
        )
    )
    return long.groupBy("measure").agg(
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Time-series gap fill (dense hourly spine via sequence + explode)
# --------------------------------------------------------------------------
@query(
    "events_gap_fill",
    oracle="""
    WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hr, value FROM events),
    b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM e),
    hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
    types AS (SELECT DISTINCT event_type FROM e),
    c AS (SELECT event_type, hr, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
          FROM e GROUP BY 1, 2)
    SELECT t.event_type, strftime(h.hr, '%Y-%m-%d %H:00') AS hour,
           COALESCE(c.n, 0) AS n_events, COALESCE(c.v, 0) AS total_value
    FROM hrs h CROSS JOIN types t
    LEFT JOIN c ON c.event_type = t.event_type AND c.hr = h.hr
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event type with zero-filled gaps — the
    standard pre-step for charting/forecasting over sparse event data.

    The spine (every hour between the corpus min and max, x distinct event
    types) is generated DISTRIBUTED via ``sequence``+``explode`` from a
    1-row bounds aggregate — no driver-side range loop — then left-joins
    the per-(type, hour) aggregate.  Both the spine and the aggregate are
    tiny relative to the raw events (hours x types rows), so at 100 TB this
    plan reads the events once, reduces map-side, and the gap-fill join is
    a broadcast.  Hour emitted as a formatted string (events.ts is
    ns-precision in parquet; Spark truncates to us — date_trunc('hour')
    makes the engines agree)."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hr"), "value"
    )
    counts = e.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    bounds = e.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    grid = spine.crossJoin(e.select("event_type").distinct())
    return grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


_WINDOW_FIRST_LAST_SQL = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       LAST_VALUE(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS last_order,
       ROUND(CUME_DIST() OVER (
         PARTITION BY o_custkey ORDER BY o_totalprice
       ), 6) AS spend_cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_first_last", oracle=_WINDOW_FIRST_LAST_SQL)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / CUME_DIST per customer: each order tagged
    with the customer's first and latest order id and the cumulative
    distribution of its price.  LAST_VALUE needs the explicit
    unbounded-following frame (the default frame stops at CURRENT ROW —
    same trap in every engine).  CUME_DIST is value-based, so ties on
    o_totalprice resolve identically in Spark and DuckDB without a
    tiebreaker column.  One shuffle on o_custkey serves all three
    windows."""
    return sql(spark, sf_dir, _WINDOW_FIRST_LAST_SQL)


_EVENTS_TOP_PATHS_SQL = """
WITH s AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
"""


@query("events_top_paths", oracle=_EVENTS_TOP_PATHS_SQL)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the 10 most frequent 3-step event-type
    paths across user timelines (funnel discovery — the exploratory
    sibling of the fixed-order ``events_funnel``).  LEAD twice over one
    (user_id, ts) window — a single shuffle on user_id, then a count over
    a tiny distinct-path domain (|event_types|^3 keys), so the global
    top-k is a TakeOrderedAndProject, never a full sort.  Ties broken by
    path string so the LIMIT cutoff is deterministic."""
    return sql(spark, sf_dir, _EVENTS_TOP_PATHS_SQL)


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0
                 / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6) AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    counts and row-normalized probabilities for every (prev → next)
    event-type pair — the sequence-model feature behind next-action
    prediction and behavioral-cohort comparison.

    Scale shape: one shuffle on user_id for the LAG window, then the
    transition counts collapse to a |types|² domain (map-side combined);
    the normalizing window runs over that tiny aggregate, not the event
    stream.  Probabilities divide exact integer counts in double — both
    engines compute bit-identical quotients before the shared round."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


_CORR_BY_FLAG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 2) AS price_per_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_corr_by_flag", oracle=_CORR_BY_FLAG_SQL)
def agg_corr_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: Pearson correlation and
    the regression slope of price on quantity (CORR / REGR_SLOPE — the
    numeric-profile aggregates a data-quality dashboard runs).  Both are
    scale-free or ratio-form, so partition summation order perturbs them
    only at ~1e-12 — rounding absorbs it.  Single partial+final hash
    aggregate over 3 groups; no shuffle pressure at any SF."""
    return sql(spark, sf_dir, _CORR_BY_FLAG_SQL)


# --------------------------------------------------------------------------
# Round-2 coverage: forward as-of, FILTER aggregates, listagg, moving avg
# --------------------------------------------------------------------------
@query(
    "events_asof_next_click",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id,
             arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.purchase_id, p.purchase_value, c.click_id, c.click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def events_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase joined to the user's EARLIEST
    click at-or-after it (operators/asof.py direction='forward' — same
    union+window plan as backward, one key shuffle, frame flipped to
    [current, unbounded following]).  Oracle is DuckDB's native ASOF with
    the inequality reversed (``p.ts <= c.ts``)."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
    )
    return asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward",
    ).select("user_id", "purchase_id", "purchase_value", "click_id", "click_value")


_FILTERED_SUMS_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
         AS rev_hi_disc,
       ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount <= 0.05), 2)
         AS rev_lo_disc,
       COUNT(*) FILTER (WHERE l_tax = 0) AS n_no_tax
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_filtered_sums", oracle=_FILTERED_SUMS_SQL)
def agg_filtered_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``FILTER (WHERE ...)`` aggregate clause — conditional partial
    sums in ONE pass over the fact table (the declarative form of the
    sum(case when) idiom; Catalyst plans it as a single partial+final
    hash aggregate, no extra scan or shuffle per condition).  Identical
    SQL text runs on both engines."""
    return sql(spark, sf_dir, _FILTERED_SUMS_SQL)


@query(
    "agg_listagg_orders",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_listagg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per customer,
    the comma-joined list of order keys in lexical order.  Expressed as
    ``array_join(array_sort(collect_list(...)))`` — collect_list is a
    partial-aggregating JVM-side agg, the sort happens per group AFTER
    aggregation (no per-row window), and lexical order is pinned on both
    sides so the joined string is deterministic."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.array_join(
            F.array_sort(F.collect_list(F.col("o_orderkey").cast("string"))), ","
        ).alias("order_keys"),
    )


_WINDOW_MOVING_AVG_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
         AS sum_7,
       COUNT(*) OVER w AS n_7
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("window_moving_avg", oracle=_WINDOW_MOVING_AVG_SQL)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row moving frame (sum + count) of order totals per
    customer — the ROWS-frame complement of the value-based RANGE frame
    query (window_range_frame_30d).  One shuffle on o_custkey + a
    per-partition sort; the frame is bounded so state per row is O(7) at
    any scale.  Ties in o_orderdate are broken by o_orderkey, making the
    frame contents deterministic — and the frame SUM runs in DECIMAL
    (exact, engine- and order-independent; a double AVG differs at the
    cent between engines' sliding-frame accumulators, and an exact-tie
    quotient .xx5 rounds differently on decimal-string vs binary-double
    engines).  The consumer divides sum_7/n_7 for the average."""
    return sql(spark, sf_dir, _WINDOW_MOVING_AVG_SQL)


@query(
    "events_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS k_sum,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path: parse props ONCE into Spark's VARIANT
    type (columnar binary JSON — parse cost paid once, every downstream
    extraction is a typed offset lookup, unlike get_json_object which
    re-parses per call) and aggregate a typed field.  The complement of
    events_json_extract (string-path extraction)."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("k_sum"),
        F.max("k").cast("int").alias("k_max"),
    )


@query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(FLOOR(CAST(round(l_quantity * 100) AS BIGINT)
                          / CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             AS qty_per_disc,
           CAST(COUNT(*) FILTER (WHERE l_discount = 0) AS BIGINT) AS n_div_zero,
           CAST(COUNT(TRY_CAST(l_returnflag AS DOUBLE)) AS BIGINT) AS n_numeric_flags
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-free scalar functions: try_divide yields NULL on
    divide-by-zero (matching SQL division semantics — a malformed row
    cannot fail a 1000-executor job hours in) and try_cast yields NULL on
    unparseable input.  The quotient is floored so both engines aggregate
    exact integers (floor of the identical double quotient), and the
    NULL-producing rows are counted so the oracle proves the try_ path
    actually fired."""
    li = load(spark, sf_dir, "lineitem")
    qty_cents = F.round(F.col("l_quantity") * 100).cast("long")
    disc_cents = F.round(F.col("l_discount") * 100).cast("long")
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.try_divide(qty_cents, disc_cents)))
        .cast("long")
        .alias("qty_per_disc"),
        F.count(F.when(F.col("l_discount") == 0, 1)).cast("long").alias("n_div_zero"),
        F.count(F.col("l_returnflag").try_cast("double"))
        .cast("long")
        .alias("n_numeric_flags"),
    )


_BITWISE_BOOL_SQL = """
SELECT event_type,
       CAST(BIT_AND(event_id) AS BIGINT) AS ids_and,
       CAST(BIT_OR(event_id) AS BIGINT) AS ids_or,
       CAST(BIT_XOR(event_id) AS BIGINT) AS ids_xor,
       BOOL_AND(value >= 0) AS all_nonneg,
       BOOL_OR(value > 99) AS any_big,
       CAST(COUNT_IF(value > 50) AS BIGINT) AS n_over_50
FROM events
GROUP BY event_type
"""


@query("agg_bitwise_bool", oracle=_BITWISE_BOOL_SQL)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate functions (BIT_AND/OR/XOR,
    BOOL_AND/OR, COUNT_IF) — exact integer/boolean semantics, so the
    oracle match is bit-for-bit regardless of partitioning or order
    (all six are commutative-associative and partial-aggregate cleanly
    map-side)."""
    return sql(spark, sf_dir, _BITWISE_BOOL_SQL)


_DISPERSION_STATS_SQL = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS qty_stddev,
       ROUND(VAR_SAMP(l_quantity), 6) AS qty_var,
       ROUND(STDDEV_POP(l_quantity), 6) AS qty_stddev_pop,
       ROUND(COVAR_SAMP(l_quantity, l_discount), 8) AS qty_disc_covar
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_dispersion_stats", oracle=_DISPERSION_STATS_SQL)
def agg_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion aggregates: sample/population stddev, sample variance,
    and sample covariance — textbook definitions shared by both engines.
    l_quantity is integral-valued (exact in double) and the moments are
    ratio-normalized, so partition summation order perturbs results only
    at ~1e-12; rounding absorbs it.  Single partial+final hash aggregate
    over a handful of groups."""
    return sql(spark, sf_dir, _DISPERSION_STATS_SQL)


@query(
    "events_interpolate_hourly",
    oracle="""
    WITH e AS (SELECT event_type, date_trunc('hour', ts) AS hr, value FROM events),
    b AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM e),
    hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
    known AS (SELECT event_type, hr, ROUND(AVG(value), 6) AS v
              FROM e GROUP BY 1, 2),
    grid AS (SELECT t.event_type, h.hr
             FROM hrs h CROSS JOIN (SELECT DISTINCT event_type FROM e) t),
    g AS (SELECT grid.event_type, grid.hr, known.v,
                 CAST(floor(epoch(grid.hr) / 3600) AS BIGINT) AS h
          FROM grid LEFT JOIN known
            ON known.event_type = grid.event_type AND known.hr = grid.hr),
    w AS (
      SELECT *,
        LAST_VALUE(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS pv,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h ROWS UNBOUNDED PRECEDING) AS ph,
        FIRST_VALUE(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM g
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hour,
           (v IS NOT NULL) AS observed,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * (h - ph) * 1.0 / (nh - ph)
                 END, 6) AS v_interp
    FROM w
    """,
)
def events_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense hourly grid per event type — the
    value-filling complement of events_gap_fill's zero-fill: missing hours
    get the line between the nearest observed hours (boundary hours extend
    the nearest observation).  Same distributed spine (sequence+explode of
    a 1-row bounds aggregate), then two IGNORE-NULLS window passes carry
    the previous/next observation and its hour; the fill is closed-form
    from those four columns — no loops, no self-joins, one shuffle on
    event_type.  Both engines interpolate from identically-rounded hourly
    averages, so the arithmetic is bit-identical."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hr"), "value"
    )
    known = e.groupBy("event_type", "hr").agg(F.round(F.avg("value"), 6).alias("v"))
    bounds = e.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    grid = spine.crossJoin(e.select("event_type").distinct())
    g = grid.join(known, ["event_type", "hr"], "left").withColumn(
        "h", F.floor(F.col("hr").cast("timestamp").cast("long") / 3600).cast("long")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    h_obs = F.when(F.col("v").isNotNull(), F.col("h"))
    w = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("ph", F.last(h_obs, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nh", F.first(h_obs, ignorenulls=True).over(wn))
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("h") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return w.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("v").isNotNull().alias("observed"),
        F.round(interp, 6).alias("v_interp"),
    )


_SETOP_INTERSECT_ALL_SQL = """
SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL
SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 100000
"""


@query("setop_intersect_all", oracle=_SETOP_INTERSECT_ALL_SQL)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: each customer key appears
    min(count_left, count_right) times (the distinct variant collapses
    multiplicity; ALL preserves it, planned as a counted hash join)."""
    return sql(spark, sf_dir, _SETOP_INTERSECT_ALL_SQL)


_SETOP_EXCEPT_ALL_SQL = """
SELECT o_custkey AS ck FROM orders
EXCEPT ALL
SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
"""


@query("setop_except_all", oracle=_SETOP_EXCEPT_ALL_SQL)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference: each key keeps count_left − count_right
    occurrences (> 0), i.e. per-customer non-'F' order multiplicity here."""
    return sql(spark, sf_dir, _SETOP_EXCEPT_ALL_SQL)


_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_quantity > 10
GROUP BY ALL
"""


@query("agg_group_by_all", oracle=_GROUP_BY_ALL_SQL)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — the analyzer derives the grouping keys from the
    non-aggregate select items; one SQL text runs verbatim on both
    engines (syntax-level parity, not just semantic parity)."""
    return sql(spark, sf_dir, _GROUP_BY_ALL_SQL)


@query(
    "text_token_positions",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(i AS INTEGER) AS pos,
           toks[i + 1] AS tok
    FROM t, unnest(range(least(len(toks), 5))) AS u(i)
    """,
)
def text_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (posexplode): the first five tokens of each
    document with their 0-based positions — the order-preserving fan-out
    primitive (n-gram alignment, position-windowed features).  Generator
    inside codegen, no shuffle."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.slice(F.split(F.col("text"), " "), 1, 5).alias("head_toks")
    )
    return t.select(
        "doc_id", F.posexplode("head_toks").alias("pos", "tok")
    )


@query(
    "events_props_regex",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT)
             AS k_sum,
           CAST(COUNT_IF(regexp_matches(props, '[0-9]{2,}')) AS BIGINT) AS n_multi_digit
    FROM events
    GROUP BY event_type
    """,
)
def events_props_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction as the schema-on-read fallback when a payload is
    not valid JSON: capture-group extraction + pattern predicate, JVM-side
    regexp (patterns restricted to the character-class subset where Java
    and RE2 semantics coincide)."""
    e = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("k_sum"),
        F.count_if(F.col("props").rlike("[0-9]{2,}")).cast("long").alias("n_multi_digit"),
    )


@query(
    "scalar_date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
           CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INTEGER) AS dow_sun1,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_95,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start
    FROM orders
    WHERE o_orderkey % 5 = 0
    """,
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function breadth beyond scalar_functions: quarter, day-of-week
    (normalized to Sunday=1 — the engines' native numberings differ),
    month-end, day distance from an epoch date, ISO week start.  All pure
    codegen scalars; date outputs emitted as formatted strings so DATE vs
    TIMESTAMP representation differences cannot flip the hash."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias(
            "week_start"
        ),
    )


@query(
    "agg_arg_extremes",
    oracle="""
    SELECT event_type,
           arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 1000000000000
                             + event_id) AS top_event,
           arg_min(event_id, CAST(round(value * 100) AS BIGINT) * 1000000000000
                             + event_id) AS bottom_event,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extreme aggregates (MAX_BY/MIN_BY): the event id carrying
    each type's highest/lowest value.  The ordering key packs
    (value-cents, event_id) into one bigint so ties resolve identically
    on both engines — arg extremes without a deterministic tiebreak are
    not oracle-comparable."""
    e = load(spark, sf_dir, "events")
    key = (F.round(F.col("value") * 100).cast("long") * F.lit(1_000_000_000_000)
           + F.col("event_id"))
    return e.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("top_event"),
        F.min_by("event_id", key).alias("bottom_event"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@query(
    "setop_union_by_name",
    oracle="""
    SELECT user_id, kind, CAST(n AS BIGINT) AS n, ROUND(amount, 2) AS amount
    FROM (
      SELECT user_id, 'events' AS kind, COUNT(*) AS n,
             SUM(value) AS amount
      FROM events GROUP BY user_id
      UNION ALL BY NAME
      SELECT o_custkey AS user_id, COUNT(*) AS n, 'orders' AS kind,
             SUM(o_totalprice) AS amount
      FROM orders GROUP BY o_custkey
    )
    """,
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-resolved union (unionByName / UNION ALL BY NAME): the two
    inputs list their columns in DIFFERENT orders and the union matches
    by name, not position — the schema-evolution-safe way to stack
    heterogeneous activity tables (positional UNION would silently pair
    kind with n here)."""
    e = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("amount"))
        .select("user_id", F.lit("events").alias("kind"), "n", "amount")
    )
    o = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("amount"))
        .select("user_id", "n", F.lit("orders").alias("kind"), "amount")
    )
    return e.unionByName(o).select(
        "user_id", "kind", F.col("n").cast("long").alias("n"),
        F.round("amount", 2).alias("amount"),
    )


_MULTI_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_multi_distinct", oracle=_MULTI_DISTINCT_SQL)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE distinct aggregates over different columns in one GROUP BY
    — Catalyst plans this with an Expand (one row replica per distinct
    set) feeding a two-level aggregate, so each distinct column still
    deduplicates map-side instead of shuffling raw rows twice.  The
    non-distinct aggregates ride along in the same pass."""
    return sql(spark, sf_dir, _MULTI_DISTINCT_SQL)


_EVENTS_FIRST_TOUCH_ATTRIBUTION_SQL = """
WITH clicks AS (
  SELECT user_id, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events WHERE event_type = 'click'
),
first_click AS (
  SELECT user_id, event_id AS first_click_id FROM clicks WHERE rn = 1
),
purchases AS (
  SELECT user_id, COUNT(*) AS n_purchases,
         ROUND(SUM(value), 2) AS attributed_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT p.user_id, f.first_click_id, p.n_purchases, p.attributed_value
FROM purchases p
LEFT JOIN first_click f ON f.user_id = p.user_id
"""


@query("events_first_touch_attribution", oracle=_EVENTS_FIRST_TOUCH_ATTRIBUTION_SQL)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase a user makes is credited to
    their first-ever click.  One window pass isolates the first click per
    user (deterministic tiebreak on event_id), purchases aggregate
    map-side, and the attribution join is keyed on user_id — the same
    single-shuffle-per-stage shape at any event volume.  LEFT join keeps
    purchasers who never clicked (null attribution)."""
    return sql(spark, sf_dir, _EVENTS_FIRST_TOUCH_ATTRIBUTION_SQL)


@query(
    "events_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    rfm AS (
      SELECT user_id,
             CAST(date_diff('day', MAX(ts), (SELECT tmax FROM mx)) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             ROUND(SUM(value), 2) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
    FROM rfm
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per purchaser, days since last purchase (against
    the corpus max — no wall clock, so the result is reproducible),
    purchase count, and spend, then frequency/monetary quartiles.  The
    quartile windows are global (unpartitioned NTILE) — fine here because
    the input is ALREADY one row per user (bounded by |users|); ranking
    raw events globally would be the anti-pattern.  Ties broken by
    user_id so quartile boundaries are deterministic."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    tmax = p.agg(F.max("ts").alias("tmax"))
    rfm = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(tmax))
        .select(
            "user_id",
            F.datediff(F.to_date("tmax"), F.to_date("last_ts"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    wf = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    wm = Window.orderBy(F.desc("monetary"), F.asc("user_id"))
    return rfm.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(wf).alias("f_quartile"),
        F.ntile(4).over(wm).alias("m_quartile"),
    )


@query(
    "events_attribution_linear",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id AS purchase_id,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.purchase_id, p.vc, c.click_id
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 7 DAY
    ),
    split AS (
      SELECT click_id,
             vc // COUNT(*) OVER w
             + CASE WHEN ROW_NUMBER() OVER (PARTITION BY purchase_id
                                            ORDER BY click_id)
                         <= vc % COUNT(*) OVER w
                    THEN 1 ELSE 0 END AS credit_cents
      FROM touches
      WINDOW w AS (PARTITION BY purchase_id)
    )
    SELECT click_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(credit_cents) / 100.0, 2) AS credit
    FROM split
    GROUP BY click_id
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value split equally
    across the user's clicks in the preceding 7 days.  The pairwise
    expansion is an interval join — equi key (user) + bounded time band,
    so per-purchase fan-out is capped by click density in one week, never
    corpus².  The split is MONEY-SAFE integer allocation: cents divided
    evenly, the remainder distributed to the lowest click ids (invoice
    splitting) — per-purchase credits sum EXACTLY to the purchase value
    and every intermediate is an integer, so the oracle match is exact
    (an equal double split produces .xx5 rounding ties that the two
    engines resolve differently)."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("ts"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id")
    wr = Window.partitionBy("purchase_id").orderBy("click_id")
    n = F.count(F.lit(1)).over(w)
    credit_cents = F.floor(F.col("vc") / n) + F.when(
        F.row_number().over(wr) <= F.col("vc") % n, 1
    ).otherwise(0)
    split = touches.select("click_id", credit_cents.alias("credit_cents"))
    return split.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("credit_cents") / 100.0, 2).alias("credit"),
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM ts) + 1 AS INTEGER) AS dow_sun1,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap cells: event and distinct-user counts per
    (day-of-week, hour-of-day) — the 7×24-cell aggregate behind usage
    dashboards.  Output cardinality is constant (≤168 rows) at any event
    volume; the distinct count shuffles (dow, hod, user) which is still
    bounded by |users|·168."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").alias("dow_sun1"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "events_max_inactivity_gap",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT user_id,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT_IF(gap_s > 86400) AS BIGINT) AS n_day_gaps
    FROM g
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def events_max_inactivity_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inactivity profile: the longest gap between consecutive
    events, total gap count, and gaps exceeding a day — the churn-risk
    features behind retention models (the max-gap complement of
    events_sessionize's gap-threshold session counter).  One LAG window
    per user then a plain aggregate; all arithmetic on integer epoch
    seconds."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    g = e.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        F.max("gap_s").alias("max_gap_s"),
        F.count(F.lit(1)).alias("n_gaps"),
        F.count_if(F.col("gap_s") > 86400).alias("n_day_gaps"),
    )


_EVENTS_SCD2_STATE_HISTORY_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_type IS DISTINCT FROM
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg
  FROM events
),
grp AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
runs AS (
  SELECT user_id, event_type AS state, g,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM grp GROUP BY 1, 2, 3
)
SELECT user_id, state, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
         AS valid_to,
       n_events,
       CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id
                                        ORDER BY valid_from) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM runs
"""


@query("events_scd2_state_history", oracle=_EVENTS_SCD2_STATE_HISTORY_SQL)
def events_scd2_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event stream: each
    user's consecutive same-type runs collapse into validity intervals
    [valid_from, valid_to) with an open-ended current row — the standard
    warehouse pattern for reconstructing "what was the state at time T"
    (change detection via LAG, islands via running change-count, interval
    close via LEAD).  Differs from sessionize: islands are bounded by
    STATE CHANGES, not inactivity gaps.

    Scale: ONE shuffle total (plan-verified) — hash(user_id) partitioning
    satisfies both stacked windows AND the (user_id, state, g) run
    aggregation (partition key ⊆ group key, so no re-exchange), and the
    final LEAD window re-sorts in place.  Skewed power users are one
    partition each — the window sort is the cost, O(events-per-user log)
    locally."""
    return sql(spark, sf_dir, _EVENTS_SCD2_STATE_HISTORY_SQL)
