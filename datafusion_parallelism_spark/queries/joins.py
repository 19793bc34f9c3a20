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

All Spark sides use the DataFrame API through
:func:`datafusion_parallelism_spark.operators.equi_join`.
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


@query(
    "join_inner_dup_keys",
    oracle="""
    SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_totalprice > 400000
    """,
)
def join_inner_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate build keys → row multiplication (lib.rs inner-join family:
    one order row fans out to each of its lineitems)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    lineitem = load(spark, sf_dir, "lineitem")
    j = equi_join(orders, lineitem, [("o_orderkey", "l_orderkey")])
    return j.select("o_orderkey", "o_totalprice", "l_linenumber", "l_quantity")


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


@query(
    "join_left_outer",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey, s_name
    FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: unmatched build rows emitted null-padded
    (left_outer.rs:174-194 finalizer — in Spark, native ``how='left'``)."""
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    j = equi_join(nation, supplier, [("n_nationkey", "s_nationkey")], how="left")
    return j.select("n_nationkey", "n_name", "s_suppkey", "s_name")


@query(
    "join_right_outer",
    oracle="""
    SELECT s_suppkey, s_name, n_nationkey, n_name
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER: unmatched probe rows null-padded per batch
    (right_outer.rs append_right_indices — Spark ``how='right'``)."""
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    j = equi_join(supplier, nation, [("s_nationkey", "n_nationkey")], how="right")
    return j.select("s_suppkey", "s_name", "n_nationkey", "n_name")


@query(
    "join_full_outer",
    oracle="""
    SELECT c.nk AS cust_nation, s.sk AS supp_nation
    FROM (SELECT DISTINCT c_nationkey AS nk FROM customer) c
    FULL JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
      ON c.nk = s.sk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: unmatched rows from BOTH sides (full.rs:38-201)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("sk")).distinct()
    j = equi_join(c, s, [("nk", "sk")], how="full")
    return j.select(F.col("nk").alias("cust_nation"), F.col("sk").alias("supp_nation"))


@query(
    "join_full_isnotnull",
    oracle="""
    SELECT c.nk AS cust_nation, s.sk AS supp_nation
    FROM (SELECT DISTINCT c_nationkey AS nk FROM customer) c
    FULL JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
      ON c.nk = s.sk
    WHERE s.sk IS NOT NULL
    """,
)
def join_full_isnotnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL + ``WHERE right IS NOT NULL`` — the reference asserts the
    planner simplifies this to a RIGHT join (lib.rs:475-487); Catalyst's
    EliminateOuterJoin does the same (asserted in tests/test_plans.py)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("sk")).distinct()
    j = equi_join(c, s, [("nk", "sk")], how="full").filter(F.col("sk").isNotNull())
    return j.select(F.col("nk").alias("cust_nation"), F.col("sk").alias("supp_nation"))


@query(
    "join_full_residual",
    oracle="""
    SELECT n_name, s_name
    FROM nation
    FULL JOIN supplier
      ON n_nationkey = s_nationkey AND s_acctbal > 1000
    """,
)
def join_full_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL with residual theta condition on the join (lib.rs:651-726:
    ``ON left.id = right.id AND left.value != right.value``) — the residual
    rejects some equi-matches, turning them into null-padded rows."""
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    j = equi_join(
        nation,
        supplier,
        [("n_nationkey", "s_nationkey")],
        how="full",
        residual=F.col("s_acctbal") > 1000,
    )
    return j.select("n_name", "s_name")


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


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI — ``WHERE NOT EXISTS`` → LeftAnti (lib.rs:389-437).
    (Filtered orders side so the result is non-empty at every SF — the
    unfiltered variant is empty because every synthetic customer has
    orders, which would leave the anti path untested.)"""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    j = equi_join(customer, orders, [("c_custkey", "o_custkey")], how="left_anti")
    return j.select("c_custkey", "c_name")


@query(
    "join_right_semi",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM customer
      WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
    )
    """,
)
def join_right_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT SEMI — probe-side rows with ≥1 build match (right_semi.rs:120).
    Spark has no ``right_semi``; ``equi_join`` swaps inputs → left_semi,
    matching the reference's role reversal."""
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    j = equi_join(customer, orders, [("c_custkey", "o_custkey")], how="right_semi")
    return j.select("o_orderkey", "o_totalprice")


@query(
    "join_right_anti",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE NOT EXISTS (
      SELECT 1 FROM customer
      WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
    )
    """,
)
def join_right_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT ANTI — probe-side rows with 0 build matches (right_anti.rs:121).
    The reference forces this shape by injecting fake statistics
    (lib.rs:526-547); in Spark the swap is explicit."""
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    j = equi_join(customer, orders, [("c_custkey", "o_custkey")], how="right_anti")
    return j.select("o_orderkey", "o_totalprice")


@query(
    "join_theta_inner",
    oracle="""
    SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
    FROM orders JOIN lineitem
      ON o_orderkey = l_orderkey AND o_totalprice < l_extendedprice * 20
    """,
)
def join_theta_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join + residual theta condition (lib.rs:672-677 shape).
    Catalyst keeps the non-equi predicate as the hash join's residual filter
    — same execution strategy as the reference's JoinFilter."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    j = equi_join(
        orders,
        lineitem,
        [("o_orderkey", "l_orderkey")],
        residual=F.col("o_totalprice") < F.col("l_extendedprice") * 20,
    )
    return j.select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")


@query(
    "join_cross",
    oracle="""
    SELECT n_name, r_name FROM nation CROSS JOIN region
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (capability envelope: DataFusion plans cross
    joins for unconstrained table pairs; the reference's custom rule leaves
    them to the stock planner).  Spark requires the explicit crossJoin()
    call — accidental cartesian products fail analysis, which is the right
    guardrail at 100 TB; here both sides are broadcast-small dimensions."""
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return nation.crossJoin(F.broadcast(region)).select("n_name", "r_name")


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


@query(
    "join_part_basket",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def join_part_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 2
    orders.  The pairwise expansion is BLOCKED by the order key (a
    self-equi-join on l_orderkey with a residual '<' that keeps each pair
    once) — per-order fan-out is ~(items per order choose 2), bounded by
    TPC-H's ~7-line orders, so the join scales linearly in orders at any
    SF; the support filter is a post-aggregation HAVING."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "join_value_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 50000.0),
             ('mid', 50000.0, 200000.0),
             ('high', 200000.0, 1000000.0)
    )
    SELECT b.band, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders o
    JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join against a tiny banding dimension: each order
    matched to its price band by BETWEEN-style predicates only — no equi
    key, so Spark executes a BroadcastNestedLoopJoin (the dim is rows-few
    by construction; the fact side streams, never shuffles).  This is the
    general form when bands are DATA (loaded/updated at runtime); when
    bands are static they compile to a CASE expression instead
    (scalar_functions.bucket)."""
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 200000.0), ("high", 200000.0, 1000000.0)],
        schema="band string, lo double, hi double",
    )
    j = o.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
