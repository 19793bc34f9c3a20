"""Join-semantics corpus: the reference's integration-test matrix.

Port of the reference's end-to-end SQL tests (``src/lib.rs:36-726`` — eight
scenario families × 11 engine configs), re-expressed over the driver's
synthetic tables so every scenario is DuckDB-oracle-checkable:

* inner multi-table fan-out (lib.rs:67-132)      → join_inner_chain
* inner with null keys (lib.rs:149-193)          → join_inner_null_keys
* inner duplicate keys (row multiplication)      → join_inner_dup_keys
* left outer (lib.rs:263-307)                    → join_left_outer
* right via FULL + IS NOT NULL (lib.rs:454-498)  → join_full_isnotnull
* full outer (lib.rs:591-634)                    → join_full_outer
* full + residual theta filter (lib.rs:651-726)  → join_full_residual
* left semi via EXISTS (lib.rs:324-372)          → join_left_semi
* left anti via NOT EXISTS (lib.rs:389-437)      → join_left_anti
* right semi / right anti (lib.rs:515-574)       → join_right_semi / _anti

Entry point: like the reference's tests, each scenario is one SQL text
that ``spark.sql`` runs over the registered views, and the same constant
is its DuckDB oracle, so the measured text and the checked text cannot
drift apart.  Five queries keep a DataFrame builder, each for the reason
its docstring gives: ``join_inner_chain`` and ``join_left_semi`` are the
DataFrame-API side of ``tests/test_entrypoint_parity.py``, the two
null-key joins spread their probe side to session width, and
``join_salted_hotkey`` runs the manual salted join.
``tests/test_entrypoint_parity.py`` fails if any other query's plan stops
being ``spark.sql`` of its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from ..operators.joins import equi_join
from ..session import load, spread_for_compute, sql
from .registry import query


def _customer_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer with compute-grade parallelism for the null-key fan-out
    joins.  Both null-key scenarios join the full customer table to the
    full supplier table on a 25-value key domain, so the broadcast-hash
    probe multiplies every customer row by |supplier|/25 — output is
    ~2,500× input.  A broadcast join adds NO exchange, which means output
    parallelism = probe-side SCAN splits, and those are sized by INPUT
    bytes: at the x64 replica the customer scan got 3 splits and the whole
    2.5 G-row materialization ran on 3 of 32 cores (ledger: one stage,
    3 tasks, 145 s/task, zero spill/shuffle).  Spreading the probe side to
    session width first is a ~25 MB round-robin shuffle that buys 32-way
    output materialization; spread_for_compute makes it a no-op whenever
    the scan already has ≥cores non-empty splits (any real data size).
    Scale lesson: size a fan-out join's probe splits by estimated OUTPUT,
    not input — input-byte splits starve any join whose selectivity ≫ 1."""
    return spread_for_compute(
        load(spark, sf_dir, "customer"),
        input_path=os.path.join(sf_dir, "customer.parquet"),
    )


@query(
    "join_inner_chain",
    oracle="""
    SELECT n_name, r_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def join_inner_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 4 chained inner equi-joins, the reference's canonical shape.

    Mirrors the multi-join fan-out test (lib.rs:72-82: base ⋈ 4 small
    tables).  lineitem is the fact side; nation/region broadcast (they are
    tiny at every SF), orders/customer shuffle on their keys — at 100 TB the
    plan is 2 shuffles + 2 broadcasts, which AQE can further reduce.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    j = equi_join(lineitem, orders, [("l_orderkey", "o_orderkey")])
    j = equi_join(j, customer, [("o_custkey", "c_custkey")])
    j = equi_join(j, F.broadcast(nation), [("c_nationkey", "n_nationkey")])
    j = equi_join(j, F.broadcast(region), [("n_regionkey", "r_regionkey")])
    return j.groupBy("n_name", "r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_INNER_DUP_KEYS_SQL = """
SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_totalprice > 400000
"""


@query("join_inner_dup_keys", oracle=_INNER_DUP_KEYS_SQL)
def join_inner_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate build keys → row multiplication (lib.rs inner-join family:
    one order row fans out to each of its lineitems)."""
    return sql(spark, sf_dir, _INNER_DUP_KEYS_SQL)


@query(
    "join_inner_null_keys",
    oracle="""
    SELECT c.c_custkey, s.s_name
    FROM (SELECT c_custkey, NULLIF(c_nationkey, 3) AS ck FROM customer) c
    JOIN (SELECT s_name, NULLIF(s_nationkey, 7) AS sk FROM supplier) s
      ON c.ck = s.sk
    """,
)
def join_inner_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL join keys never match (= semantics, null_equals_null=false —
    use_parallel_hash_join_rule.rs:87-89; null-key test at lib.rs:149-193).
    Probe side spread to session width — see _customer_spread."""
    customer = _customer_spread(spark, sf_dir).select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    supplier = load(spark, sf_dir, "supplier").select(
        "s_name", F.nullif(F.col("s_nationkey"), F.lit(7)).alias("sk")
    )
    return equi_join(customer, supplier, [("ck", "sk")]).select("c_custkey", "s_name")


_LEFT_OUTER_SQL = """
SELECT n_nationkey, n_name, s_suppkey, s_name
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
"""


@query("join_left_outer", oracle=_LEFT_OUTER_SQL)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: unmatched build rows emitted null-padded
    (left_outer.rs:174-194 finalizer — in Spark, a native LeftOuter join)."""
    return sql(spark, sf_dir, _LEFT_OUTER_SQL)


_RIGHT_OUTER_SQL = """
SELECT s_suppkey, s_name, n_nationkey, n_name
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
"""


@query("join_right_outer", oracle=_RIGHT_OUTER_SQL)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER: unmatched probe rows null-padded per batch
    (right_outer.rs append_right_indices — a native RightOuter join)."""
    return sql(spark, sf_dir, _RIGHT_OUTER_SQL)


_FULL_OUTER_SQL = """
SELECT c.nk AS cust_nation, s.sk AS supp_nation
FROM (SELECT DISTINCT c_nationkey AS nk FROM customer) c
FULL JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
  ON c.nk = s.sk
"""


@query("join_full_outer", oracle=_FULL_OUTER_SQL)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: unmatched rows from BOTH sides (full.rs:38-201)."""
    return sql(spark, sf_dir, _FULL_OUTER_SQL)


_FULL_ISNOTNULL_SQL = """
SELECT c.nk AS cust_nation, s.sk AS supp_nation
FROM (SELECT DISTINCT c_nationkey AS nk FROM customer) c
FULL JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
  ON c.nk = s.sk
WHERE s.sk IS NOT NULL
"""


@query("join_full_isnotnull", oracle=_FULL_ISNOTNULL_SQL)
def join_full_isnotnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL + ``WHERE right IS NOT NULL`` — the reference asserts the
    planner simplifies this to a RIGHT join (lib.rs:475-487); Catalyst's
    EliminateOuterJoin does the same (asserted in tests/test_plans.py)."""
    return sql(spark, sf_dir, _FULL_ISNOTNULL_SQL)


_FULL_RESIDUAL_SQL = """
SELECT n_name, s_name
FROM nation
FULL JOIN supplier
  ON n_nationkey = s_nationkey AND s_acctbal > 1000
"""


@query("join_full_residual", oracle=_FULL_RESIDUAL_SQL)
def join_full_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL with residual theta condition on the join (lib.rs:651-726:
    ``ON left.id = right.id AND left.value != right.value``) — the residual
    rejects some equi-matches, turning them into null-padded rows."""
    return sql(spark, sf_dir, _FULL_RESIDUAL_SQL)


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI — the reference plans ``WHERE EXISTS (correlated)`` into a
    LeftSemi hash join (lib.rs:324-372; decorrelation asserted at :357-358).
    Catalyst's RewritePredicateSubquery does the same rewrite; here we
    express the join directly."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    j = equi_join(customer, orders, [("c_custkey", "o_custkey")], how="left_semi")
    return j.select("c_custkey", "c_name")


_LEFT_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


@query("join_left_anti", oracle=_LEFT_ANTI_SQL)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI — ``WHERE NOT EXISTS`` → LeftAnti (lib.rs:389-437).
    (Filtered orders side so the result is non-empty at every SF — the
    unfiltered variant is empty because every synthetic customer has
    orders, which would leave the anti path untested.)"""
    return sql(spark, sf_dir, _LEFT_ANTI_SQL)


_RIGHT_SEMI_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
"""


@query("join_right_semi", oracle=_RIGHT_SEMI_SQL)
def join_right_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT SEMI — probe-side rows with ≥1 build match (right_semi.rs:120).
    Spark has no right semi join; the EXISTS decorrelates to a LeftSemi
    with orders on the left, matching the reference's role reversal."""
    return sql(spark, sf_dir, _RIGHT_SEMI_SQL)


_RIGHT_ANTI_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE NOT EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
"""


@query("join_right_anti", oracle=_RIGHT_ANTI_SQL)
def join_right_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT ANTI — probe-side rows with 0 build matches (right_anti.rs:121).
    The reference forces this shape by injecting fake statistics
    (lib.rs:526-547); in Spark the NOT EXISTS decorrelates to a LeftAnti
    with orders on the left."""
    return sql(spark, sf_dir, _RIGHT_ANTI_SQL)


_THETA_INNER_SQL = """
SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
FROM orders JOIN lineitem
  ON o_orderkey = l_orderkey AND o_totalprice < l_extendedprice * 20
"""


@query("join_theta_inner", oracle=_THETA_INNER_SQL)
def join_theta_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join + residual theta condition (lib.rs:672-677 shape).
    Catalyst keeps the non-equi predicate as the hash join's residual filter
    — same execution strategy as the reference's JoinFilter."""
    return sql(spark, sf_dir, _THETA_INNER_SQL)


_CROSS_SQL = """
SELECT n_name, r_name FROM nation CROSS JOIN region
"""


@query("join_cross", oracle=_CROSS_SQL)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (capability envelope: DataFusion plans cross
    joins for unconstrained table pairs; the reference's custom rule leaves
    them to the stock planner).  Both sides are broadcast-small
    dimensions, so Spark plans a BroadcastNestedLoopJoin with no shuffle
    (pinned in tests/test_plan_shapes.py)."""
    return sql(spark, sf_dir, _CROSS_SQL)


@query(
    "join_nullsafe",
    oracle="""
    SELECT c.c_custkey, s.s_name
    FROM (SELECT c_custkey, NULLIF(c_nationkey, 3) AS ck FROM customer) c
    JOIN (SELECT s_name, NULLIF(s_nationkey, 7) AS sk FROM supplier) s
      ON c.ck IS NOT DISTINCT FROM s.sk
    """,
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys DO
    match each other.  The reference's operator explicitly rejects
    null_equals_null (use_parallel_hash_join_rule.rs:87-89) and falls back
    to stock DataFusion for it — Spark supports it natively in the same
    hash-join operators, so this extends the envelope rather than porting
    it.  The NULL bucket is a deliberate skew point (every NULL row hashes
    together); AQE skew-split is the mitigation at scale.  Probe side
    spread to session width — see _customer_spread."""
    customer = _customer_spread(spark, sf_dir).select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    supplier = load(spark, sf_dir, "supplier").select(
        "s_name", F.nullif(F.col("s_nationkey"), F.lit(7)).alias("sk")
    )
    return customer.join(
        supplier, customer["ck"].eqNullSafe(supplier["sk"])
    ).select("c_custkey", "s_name")


@query(
    "join_salted_hotkey",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer through the manual SALTED join
    (operators/skew.salted_join, 8 salts): the engine's second-line skew
    answer after AQE skew-split, mirroring the reference's work-stealing
    repartitioner intent (work_stealing_repartition_exec.rs:50-91) with a
    partition-spreading rewrite instead of queue stealing.  The oracle is
    the PLAIN join — salting must be invisible in the results.  Total extra
    work is |customer| x 7 dimension-row copies; each hot o_custkey hash
    bucket is spread over 8 shuffle partitions."""
    from ..operators.skew import salted_join

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = salted_join(orders, customer, [("o_custkey", "c_custkey")], n_salts=8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_EXISTENCE_MARK_SQL = """
SELECT c_custkey, c_nationkey
FROM customer
WHERE c_acctbal < 0
   OR EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
"""


@query("join_existence_mark", oracle=_EXISTENCE_MARK_SQL)
def join_existence_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS inside a disjunction — not rewritable to a plain semi join
    (the other disjunct must still pass rows), so Catalyst plans an
    ExistenceJoin: a semi-join variant that ATTACHES a boolean mark
    instead of filtering, evaluated in the residual predicate.  This is
    the capability the reference's operator explicitly does NOT support
    (LeftMark rejected at probe_lookup_implementation.rs:32-75; its tests
    only use top-level [NOT] EXISTS).  Plan shape pinned in
    tests/test_plan_shapes.py."""
    return sql(spark, sf_dir, _EXISTENCE_MARK_SQL)


_PART_BASKET_SQL = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@query("join_part_basket", oracle=_PART_BASKET_SQL)
def join_part_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 2
    orders.  The pairwise expansion is BLOCKED by the order key (a
    self-equi-join on l_orderkey with a residual '<' that keeps each pair
    once) — per-order fan-out is ~(items per order choose 2), bounded by
    TPC-H's ~7-line orders, so the join scales linearly in orders at any
    SF; the support filter is a post-aggregation HAVING."""
    return sql(spark, sf_dir, _PART_BASKET_SQL)


_VALUE_BANDS_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 50000.0),
         ('mid', 50000.0, 200000.0),
         ('high', 200000.0, 1000000.0)
)
SELECT b.band, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM orders o
JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
"""


@query("join_value_bands", oracle=_VALUE_BANDS_SQL)
def join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a tiny banding dimension: each order
    matched to its price band by BETWEEN-style predicates only — no equi
    key, so Spark executes a BroadcastNestedLoopJoin (the dim is rows-few
    by construction; the fact side streams, never shuffles).  This is the
    general form when bands are DATA (loaded/updated at runtime); when
    bands are static they compile to a CASE expression instead
    (scalar_functions.bucket)."""
    return sql(spark, sf_dir, _VALUE_BANDS_SQL)
