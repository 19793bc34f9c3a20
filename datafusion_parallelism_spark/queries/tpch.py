"""TPC-H-class corpus — the reference's benchmark surface.

The reference executes TPC-H q1–q22 through stock DataFusion
(``tpc/src/main.rs:290-384`` runs ``q{n}.sql`` over registered Parquet
tables; the custom join rule rewrites every eligible hash join in those
plans).  This module re-expresses that query corpus over the driver's
synthetic star schema.  The driver tables are a REDUCED TPC-H (no
``partsupp``; lineitem lacks commitdate/receiptdate/shipmode/shipinstruct;
orders lacks shippriority/clerk) so queries needing missing columns are
adapted — each docstring says how.  Queries q2/q11/q16/q20 need ``partsupp``;
they are adapted with lineitem's (l_partkey, l_suppkey) pairs as the
part↔supplier bridge, preserving each query's structural shape (correlated
scalar subquery, HAVING vs global scalar, NOT IN, nested IN).

Entry point: every query is one SQL text that ``spark.sql`` runs over the
registered views, as the reference passes each ``q{n}.sql`` file to
``ctx.sql`` (entry point 1, ``parse_sql`` → plan → collect,
src/parse_sql.rs:73-76).  The same constant is the query's DuckDB oracle,
so the measured text and the checked text cannot drift apart; only q21
keeps a second text (its docstring says why).  The DataFrame entry point
is covered by the join, analytics and LLM corpora and by
``tests/test_entrypoint_parity.py``.

Determinism contract (see queries/registry.py): double aggregates rounded
identically on both sides; every top-k ORDER BY is totalized with unique
tiebreak keys so the LIMIT cutoff is engine-independent.

Scale notes inline; the common pattern: lineitem/orders shuffle on join
keys (AQE-coalesced), nation/region/supplier/part broadcast, aggregates are
partial+final (map-side combine) automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import sql
from .registry import query

_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 2) AS avg_qty,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1", oracle=_Q1)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q1, pricing summary report (full fidelity): scan-heavy
    single-table aggregation — the pure Tungsten path (one scan, map-side
    partial agg, tiny shuffle of 6 groups)."""
    return sql(spark, sf_dir, _Q1)


_Q2 = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, ROUND(MIN(l_extendedprice), 2) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
FROM part
JOIN ps ON p_partkey = ps.l_partkey
JOIN supplier ON s_suppkey = ps.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size = 15 AND r_name = 'EUROPE'
  AND cost = (
    SELECT MIN(ps2.cost) FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query("tpch_q2", oracle=_Q2)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2, minimum cost supplier, adapted (no partsupp): supplycost
    := min l_extendedprice per (part, supplier) derived from lineitem.
    Preserves the query's defining shape — a correlated scalar MIN
    subquery over a 4-way dimension join, decorrelated by Catalyst into an
    aggregate + join.  Scale: ps is a lineitem-sized aggregation (shuffle
    on part+supp key); all four dimension tables broadcast."""
    return sql(spark, sf_dir, _Q2)


_Q3 = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("tpch_q3", oracle=_Q3)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q3, shipping priority, minus o_shippriority (column absent).
    Top-k over an aggregated 3-way join; ORDER BY totalized with
    l_orderkey tiebreak."""
    return sql(spark, sf_dir, _Q3)


_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4", oracle=_Q4)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4, order priority checking, with the late-line predicate
    (commitdate < receiptdate, columns absent) adapted to shipdate vs
    orderdate+30d.  Exercises correlated-EXISTS decorrelation → LeftSemi
    (the rewrite the reference asserts at lib.rs:357-358)."""
    return sql(spark, sf_dir, _Q4)


_Q5 = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@query("tpch_q5", oracle=_Q5)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q5, local supplier volume: 5-way join with a same-nation
    residual (c_nationkey = s_nationkey rides on the supplier join as an
    extra equi-key); supplier, nation and region broadcast."""
    return sql(spark, sf_dir, _Q5)


_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6", oracle=_Q6)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6, forecasting revenue change: pure filter+agg — predicate
    pushdown showcase (all four predicates reach the parquet scan)."""
    return sql(spark, sf_dir, _Q6)


_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7", oracle=_Q7)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7, volume shipping between two nations: self-join of nation
    under two roles + disjunctive cross-nation predicate."""
    return sql(spark, sf_dir, _Q7)


_Q8 = """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 4) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
"""


@query("tpch_q8", oracle=_Q8)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8, national market share: 8-way join + conditional-aggregate
    market share."""
    return sql(spark, sf_dir, _Q8)


_Q9 = """
SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.6 * p_retailprice * l_quantity AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""


@query("tpch_q9", oracle=_Q9)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9, product type profit, with ps_supplycost (partsupp absent)
    replaced by 0.6*p_retailprice — same plan shape: LIKE filter on part,
    5-way join, profit aggregation by nation × year."""
    return sql(spark, sf_dir, _Q9)


_Q10 = """
SELECT c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10", oracle=_Q10)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10, returned item reporting (address/phone/comment columns
    absent): top-20 customers by returned revenue; ORDER BY totalized with
    c_custkey."""
    return sql(spark, sf_dir, _Q10)


_Q11 = """
WITH ps AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice * l_quantity), 2) AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT l_partkey AS ps_partkey, value
FROM ps
WHERE value > (SELECT SUM(value) * 0.0012 FROM ps)
ORDER BY value DESC, ps_partkey
"""


@query("tpch_q11", oracle=_Q11)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11, important stock identification, adapted (no partsupp):
    per-part stock value aggregated from lineitem for suppliers in the
    EUROPE region (instead of a single nation), HAVING value > fraction *
    global total — the group-agg-vs-global-scalar-subquery shape.  Scale:
    the CTE is one shuffled agg; the scalar total is a tiny second agg
    over it (Spark reuses the exchange under AQE)."""
    return sql(spark, sf_dir, _Q11)


_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


@query("tpch_q12", oracle=_Q12)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12, shipping modes and order priority, with l_shipmode
    (absent) replaced by l_returnflag and the receipt-lateness predicate
    adapted to shipdate vs orderdate+60d."""
    return sql(spark, sf_dir, _Q12)


_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13", oracle=_Q13)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13, customer order-count distribution (comment filter
    dropped — column absent): left join + double aggregation; COUNT(col)
    null semantics exercised."""
    return sql(spark, sf_dir, _Q13)


_Q14 = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


@query("tpch_q14", oracle=_Q14)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14, promotion effect (p_type exact match — synthetic types
    are single words); part broadcasts."""
    return sql(spark, sf_dir, _Q14)


_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("tpch_q15", oracle=_Q15)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15, top supplier: scalar subquery on an aggregated view
    (max-revenue supplier).  Rounded revenue makes the MAX tie-set
    engine-independent."""
    return sql(spark, sf_dir, _Q15)


_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("tpch_q16", oracle=_Q16)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16, parts/supplier relationship, adapted (no partsupp or
    s_comment): the part↔supplier bridge is lineitem, and the "complaints"
    exclusion is keyed on a negative account balance.  COUNT(DISTINCT
    supplier) per part attribute group with a NOT IN exclusion subquery
    (→ null-aware anti join).  Scale: distinct-agg expands then
    re-shuffles; the NOT IN side is dimension-sized and broadcast."""
    return sql(spark, sf_dir, _Q16)


_Q17 = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


@query("tpch_q17", oracle=_Q17)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17, small-quantity-order revenue (container filter dropped —
    column absent): correlated scalar AVG subquery; quantities are
    integral so the 0.2*avg comparison is fp-stable across engines."""
    return sql(spark, sf_dir, _Q17)


_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("tpch_q18", oracle=_Q18)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18, large volume customers: IN-subquery on a HAVING
    aggregate → semi join; top-100 with o_orderkey tiebreak.  Quantity
    sums are integral → threshold is fp-stable.  Catalyst infers the IN
    filter on both sides of the orders⋈lineitem join, so lineitem is
    semi-joined against the same broadcast of big orders (a
    ReusedExchange) before its shuffle."""
    return sql(spark, sf_dir, _Q18)


_Q19 = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@query("tpch_q19", oracle=_Q19)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19, discounted revenue (shipmode/shipinstruct legs dropped —
    columns absent): disjunction of conjunctive join+filter legs — the
    OR-predicate rides the broadcast hash join as a residual filter."""
    return sql(spark, sf_dir, _Q19)


_Q20 = """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT ps.l_suppkey FROM (
      SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
    ) ps
    WHERE ps.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND ps.qty > (
        SELECT 0.3 * SUM(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = ps.l_partkey
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01' AND l2.l_shipdate < TIMESTAMP '1998-01-01'
      )
  )
ORDER BY s_name
"""


@query("tpch_q20", oracle=_Q20)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20, potential part promotion, adapted (no partsupp
    availqty): "excess stock" := a supplier's 1997 shipped quantity of a
    red part exceeding 30% of that part's total.  Doubly-nested IN
    subqueries with a correlated scalar SUM — the decorrelation stress
    test (IN → LeftSemi, correlated scalar → agg + join).  Quantities are
    integral so the 0.3*total comparison is fp-stable."""
    return sql(spark, sf_dir, _Q20)


_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""

_Q21 = """
WITH lo AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
per_supp AS (
  SELECT ok, sk,
         COUNT_IF(late) AS n_late_items,
         MAX(late) AS any_late
  FROM lo GROUP BY ok, sk
),
w AS (
  -- Per-order facts as WINDOW aggregates, not a groupBy +
  -- self-join: Spark inlines a twice-referenced CTE, so the
  -- join form executed the whole lineitem⋈orders⋈agg subtree
  -- twice (two 383 MB exchanges at x64, no ReuseExchange).
  -- The window rides per_supp's existing ok-partitioning: one
  -- lineitem exchange in the entire plan.
  SELECT ok, sk, n_late_items, any_late,
         COUNT(*) OVER (PARTITION BY ok) AS nsupp,
         COUNT_IF(any_late) OVER (PARTITION BY ok) AS nlate
  FROM per_supp
)
SELECT s_name, SUM(n_late_items) AS numwait
FROM w JOIN supplier ON s_suppkey = sk
WHERE any_late AND nlate = 1 AND nsupp >= 2
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@query("tpch_q21", oracle=_Q21_ORACLE)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21, suppliers who kept orders waiting, with
    commitdate/receiptdate lateness adapted to shipdate > orderdate+60d.

    The one query with two texts.  The oracle ``_Q21_ORACLE`` is the
    reference's EXISTS + NOT EXISTS self-join form; Spark runs the
    rewrite ``_Q21``, which returns the same rows (oracle-verified) and
    was measured at x64 warm 17.1 → 3.7 s.  The self-join form shuffled
    three full lineitem projections on l_orderkey and sorted all three in
    one SMJ reduce stage (x64 ledger: 999 MB shuffle read, 391 s CPU,
    12.6 GB peak in that stage alone).  Both subqueries are per-ORDER
    facts, so the rewrite computes them as per-order supplier aggregates
    over ONE lineitem⋈orders pass instead (aggregate, don't re-join):

      * EXISTS l2 (another supplier on the order)      ⟺ nsupp(o) ≥ 2
      * NOT EXISTS l3 (no OTHER supplier late on o),
        given l1 itself is late                        ⟺ nlate(o) = 1
      * COUNT(*) over qualifying l1 rows               ⟺ Σ n_late_items
        of the single late supplier of each qualifying order

    where nsupp = COUNT(DISTINCT suppkey), nlate = COUNT(DISTINCT
    suppkey among late lineitems), both via one (ok, sk) pre-aggregate
    (no Expand: two plain counts over per-supplier flags).  Every
    aggregate and the agg⋈per_supp join reuse the single l_orderkey
    exchange.  The decorrelation surface itself is still exercised by
    join_exists/join_left_semi and the other EXISTS queries."""
    return sql(spark, sf_dir, _Q21)


_Q22 = """
SELECT c_nationkey, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c_acctbal > (
    SELECT AVG(c_acctbal) FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 350000)
GROUP BY c_nationkey
"""


@query("tpch_q22", oracle=_Q22)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22, global sales opportunity, with substring(c_phone)
    (absent) → c_nationkey as the country code: scalar AVG subquery + NOT
    EXISTS anti join."""
    return sql(spark, sf_dir, _Q22)
