"""Graph-analytics corpus: link-authority ranking over entity graphs.

Beyond the reference's SQL surface (like the connected-components cluster
resolver in ``operators/graph.py``, registered as ``dedup_near_clusters``):
a 100 TB training-data pipeline weights documents by the link authority of
their source domain — the CommonCrawl-style quality prior — which is
PageRank over the crawl/link graph.  The synthetic tables have no document
link graph, so the registered query ranks the customer↔supplier trade
graph derived from orders⋈lineitem: the same bipartite "who interacts with
whom" shape (and the same plan: distinct edge extraction, degree
normalization, iterated join+aggregate) as a domain↔document graph.

Oracle: PageRank with a FIXED iteration count is a deterministic function
of the graph, so the DuckDB oracle is the power iteration UNROLLED into a
chain of CTEs (r0..r10) — no recursion (standard SQL bars aggregates in a
recursive member).  Every CTE is AS MATERIALIZED: each step references its
predecessor twice (contribution sum + dangling mass), so inlining would
expand the base scan 2^10 times ("Too many open files" in practice);
materialization keeps the oracle linear in the iteration count.  Both
engines compute identical IEEE products rank*1/outdeg; only SUM order
differs, so ROUND to 7 decimals makes the hash stable (drift ~1e-15 vs
granularity 1e-7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import _tri_numpy, pagerank, triangle_counts
from ..operators.pairs import cap_groups, pair_counts
from ..plans.shaping import kernel_fits
from ..session import load, parquet_num_rows
from .registry import query

_DAMPING = 0.85
_ITERS = 10

#: Shared edge derivation (both engines): distinct customer↔supplier pairs
#: that traded, encoded into one integer node domain (2k customer, 2k+1
#: supplier), with both orientations so rank can flow both ways.
_EDGE_CTES = """
pairs AS MATERIALIZED (
    SELECT DISTINCT o_custkey AS c, l_suppkey AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
    SELECT 2 * c AS src, 2 * s + 1 AS dst FROM pairs
    UNION ALL
    SELECT 2 * s + 1 AS src, 2 * c AS dst FROM pairs
),
nodes AS MATERIALIZED (
    SELECT DISTINCT src AS node FROM edges
    UNION
    SELECT DISTINCT dst FROM edges
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
en AS MATERIALIZED (
    SELECT e.src, e.dst, 1.0 / d.outdeg AS w
    FROM edges e JOIN deg d ON e.src = d.src
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)
"""


def _step(i: int) -> str:
    """One unrolled power-iteration step r{i-1} -> r{i}."""
    return f"""
c{i} AS MATERIALIZED (
    SELECT en.dst AS node, SUM(r.rank * en.w) AS contrib
    FROM en JOIN r{i - 1} r ON en.src = r.node
    GROUP BY en.dst
),
d{i} AS MATERIALIZED (
    SELECT COALESCE(SUM(r.rank), 0.0) AS dm
    FROM r{i - 1} r LEFT JOIN deg ON r.node = deg.src
    WHERE deg.src IS NULL
),
r{i} AS MATERIALIZED (
    SELECT nodes.node,
           (1 - {_DAMPING}) / (SELECT n FROM nn)
           + {_DAMPING} * (COALESCE(c{i}.contrib, 0.0)
                           + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
    FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
)"""


_PAGERANK_ORACLE = (
    "WITH "
    + _EDGE_CTES
    + ","
    + ",".join(_step(i) for i in range(1, _ITERS + 1))
    + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       CAST((node - (node % 2)) / 2 AS BIGINT) AS key,
       ROUND(rank, 7) AS rank_r7
FROM r{_ITERS}
"""
)


@query("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph (10 iterations,
    d=0.85, dangling mass redistributed).  See module docstring."""
    from ..operators.graph import _PAGERANK_KERNEL_MAX_EDGES

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    # Metadata-only edge UPPER bound: every lineitem row yields at most
    # one (cust, supp) pair, so |edges| <= 2·|lineitem| after
    # symmetrization (parquet footer read, no Spark job).
    li_rows = parquet_num_rows(os.path.join(sf_dir, "lineitem.parquet"))
    edge_bound = None if li_rows is None else 2 * li_rows
    small = kernel_fits(edge_bound, _PAGERANK_KERNEL_MAX_EDGES)
    pairs = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        (F.col("o_custkey") * 2).alias("u"),
        (F.col("l_suppkey") * 2 + 1).alias("v"),
    )
    if not small:
        # Distributed path: dedup BEFORE symmetrizing (half the rows
        # through the distinct exchange).  On the small path the kernel
        # dedups in NumPy, so the distributed distinct would be a wasted
        # exchange (~0.45 s of the 0.9 s sf0.1 derivation).
        pairs = pairs.distinct()
    # Symmetrize via one generator pass: a union of two projections would
    # inline the orders⋈lineitem-distinct subtree twice (ReuseExchange
    # shares the distinct's shuffle, but the post-exchange aggregate still
    # re-executes per branch); explode touches it once by construction.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # assume_distinct (distributed path): pairs is distinct and the
    # odd/even node encoding makes the symmetrized union disjoint, so
    # pagerank's dedup exchange would be a full |E|-sized no-op.  The
    # kernel dedups in NumPy either way.
    #
    # approx_edge_bound: the metadata bound above is pagerank()'s only
    # kernel gate.  On a big corpus (or an unreadable footer: no bound)
    # the distributed loop runs.
    ranks = pagerank(
        edges,
        damping=_DAMPING,
        iterations=_ITERS,
        assume_distinct=not small,
        approx_edge_bound=edge_bound,
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        ((F.col("node") - F.col("node") % 2) / 2).cast("long").alias("key"),
        F.round("rank", 7).alias("rank_r7"),
    )


_TRI_MIN_SHARED = 2  # orders a part pair must co-occur in to form an edge
#: Per-order basket cap for the pair derivation: one pathological order
#: with k distinct parts expands to k(k-1)/2 pair rows BEFORE any
#: aggregation can shrink it — at 100 TB a single 10k-part basket is 50M
#: shuffle rows from one input row.  Orders above the cap are EXCLUDED
#: (not sampled: a partial basket would fabricate wrong co-occurrence
#: counts) and the exclusion is mirrored in the oracle.  64 is ~10x the
#: largest real basket in the driver data (TPC-H orders have <= 7
#: lineitems), so the cap is inert on sane data and only disarms
#: adversarial skew.
_TRI_MAX_BASKET = 64

_TRIANGLE_ORACLE = f"""
WITH pu0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
ok_orders AS (SELECT o FROM pu0 GROUP BY o HAVING COUNT(*) <= {_TRI_MAX_BASKET}),
pu AS (SELECT pu0.o, pu0.p FROM pu0 JOIN ok_orders ON pu0.o = ok_orders.o),
e AS (
  SELECT a.p AS u, b.p AS v
  FROM pu a JOIN pu b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_SHARED}
),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v)
              THEN struct_pack(d := dv.d, n := e.v)
              ELSE struct_pack(d := du.d, n := e.u) END AS kdst
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM o e1
  JOIN o e2 ON e1.src = e2.src AND e1.kdst < e2.kdst
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT part, COUNT(*) AS triangles FROM corners GROUP BY 1
"""


@query("graph_triangle_counts", oracle=_TRIANGLE_ORACLE)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph (parts
    appearing together in >= 2 orders) — the local-clustering signal
    behind "frequently bought together" communities, and the third leg of
    the graph trio (PageRank = authority, connected components = cluster
    resolution, triangles = cohesion).

    One size gate, read from the lineitem parquet footer (no Spark job),
    picks the plan.  The footer row count bounds the distinct (order,
    part) rows from above.  Below _CO_PURCHASE_KERNEL_MAX_ROWS the whole
    query is ONE ``mapInArrow`` task (_co_purchase_triangles_arrow): no
    build-time job, no exchange.  Above it runs the distributed plan
    (_co_purchase_triangles_distributed), built for skew at 100 TB: edges
    are ORIENTED from the lower-(degree, id) endpoint to the higher one
    before the wedge join, the standard compact-forward trick — every
    triangle is then generated exactly once, and the wedge fan-out is
    bounded by Σ outdeg(v)² where max outdeg is O(√m) on any graph,
    instead of the unbounded hub-degree² a naive undirected join pays.
    Wedge building shuffles on src; the closing-edge probe shuffles on
    (dst-pair) — two hash exchanges, no broadcast of anything
    graph-sized.  The edge list is consumed three times, so it is
    checkpointed once, and its measured size gates the edge-table kernel
    (operators.graph.triangle_counts).  Both sides give identical rows
    (tests/test_triangle_query_property.py).

    Adversarial-input guard (r4): baskets larger than _TRI_MAX_BASKET are
    excluded before the quadratic pair expansion — see co_purchase_edges."""
    li = load(spark, sf_dir, "lineitem")
    pu = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    n_rows = parquet_num_rows(os.path.join(sf_dir, "lineitem.parquet"))
    return _co_purchase_triangles(pu, n_rows)


#: lineitem rows (the parquet footer count) one task dedups, caps, pairs,
#: counts and closes triangles over in _co_purchase_triangles_arrow.
#: Warm wall on a 4-core box, kernel vs distributed, fresh process per
#: side: 0.79 vs 2.17 s at 0.6M rows (sf0.1), 1.40 vs 3.65 s at 1.2M,
#: 2.89 vs 6.10 s at 2.4M, 4.27 vs 15.4 s at 4.8M, 9.42 vs 22.8 s at 9.6M
#: — no crossover.  The bound is the one Python worker's memory, which
#: Spark neither accounts nor spills: its peak RSS was 227 MB at 0.6M,
#: 979 MB at 4.8M and 1.79 GB at 9.6M rows, so this ceiling keeps it near
#: 1 GB.  0 turns the kernel off (tests patch it to force the distributed
#: plan).
_CO_PURCHASE_KERNEL_MAX_ROWS = 5_000_000


def _co_purchase_triangles(pu: DataFrame, n_rows: int | None) -> DataFrame:
    """graph_triangle_counts' (part, triangles) rows over ``pu`` (o, p)
    (order, part) rows, given an upper bound ``n_rows`` on its row count
    (``None``: unknown, distributed)."""
    if kernel_fits(n_rows, _CO_PURCHASE_KERNEL_MAX_ROWS):
        return _co_purchase_triangles_arrow(pu)
    return _co_purchase_triangles_distributed(pu)


def _co_purchase_triangles_arrow(pu: DataFrame) -> DataFrame:
    """(part, triangles) in ONE ``mapInArrow`` task over (o, p) — the fused
    form of _co_purchase_triangles_distributed for inputs under the gate,
    with the same semantics as it and _TRIANGLE_ORACLE:

    * the distinct (o, p) rows, sorted by (o, p);
    * orders with more than _TRI_MAX_BASKET of them dropped.  A NULL p
      counts toward its basket's size but never pairs; a NULL o never
      pairs, so its rows are dropped first;
    * each basket's p_a < p_b pairs, expanded per GAP within the
      p-sorted basket (positions g apart), in O(pairs) work;
    * the pairs shared by at least _TRI_MIN_SHARED orders, counted by one
      sort of their packed keys;
    * compact-forward triangle counting on those edges
      (operators.graph._tri_numpy, shared with the edge-table kernel)."""
    part_t = pu.schema["p"].dataType.simpleString()
    max_basket, min_shared = _TRI_MAX_BASKET, _TRI_MIN_SHARED

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        os_, ps, nulls = [], [], []
        for b in batches:
            has_o = pc.is_valid(b.column(0))
            o, p = pc.filter(b.column(0), has_o), pc.filter(b.column(1), has_o)
            os_.append(o.to_numpy(zero_copy_only=False))
            nulls.append(pc.is_null(p).to_numpy(zero_copy_only=False))
            ps.append(pc.fill_null(p, 0).to_numpy(zero_copy_only=False))
        if not os_:
            return
        o, p, null = np.concatenate(os_), np.concatenate(ps), np.concatenate(nulls)
        # Rank orders and parts, then the distinct (o, p) rows are the
        # distinct packed (order rank, part rank + 1) keys, 0 for NULL p;
        # sorted, so each basket is a run sorted by part.
        _, oi = np.unique(o, return_inverse=True)
        member = np.zeros(len(p), dtype=np.int64)
        nodes, member[~null] = np.unique(p[~null], return_inverse=True)
        member[~null] += 1
        w = np.int64(len(nodes) + 1)
        rows = np.unique(oi.astype(np.int64) * w + member)
        # Basket cap, then drop the NULL parts (counted, never paired).
        size = np.unique(rows // w, return_counts=True)[1]
        keep = np.repeat(size <= max_basket, size) & (rows % w > 0)
        rows = rows[keep]
        if len(rows) == 0:
            return
        size = np.unique(rows // w, return_counts=True)[1]
        pi = rows % w - 1
        # Members after each row in its basket: the basket's end - row - 1.
        left = np.repeat(np.cumsum(size), size) - np.arange(len(rows)) - 1
        keys = []
        cand = np.nonzero(left > 0)[0]
        for g in range(1, max_basket):
            cand = cand[left[cand] >= g]
            if len(cand) == 0:
                break
            keys.append(pi[cand] * w + pi[cand + g])
        if not keys:
            return
        pairs, shared = np.unique(np.concatenate(keys), return_counts=True)
        edges = pairs[shared >= min_shared]
        part, tri = _tri_numpy(nodes[edges // w], nodes[edges % w])
        if len(part) == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(part), pa.array(tri)], names=["part", "triangles"]
        )

    return pu.coalesce(1).mapInArrow(
        kernel, schema=f"part {part_t}, triangles long"
    )


def _co_purchase_triangles_distributed(pu: DataFrame) -> DataFrame:
    """(part, triangles) above the gate: the distinct (o, p) rows on one
    |lineitem| exchange, the capped co-purchase pair count
    (co_purchase_edges) and the distributed triangle count."""
    # repartition("o") BEFORE the distinct (round 10): hashpartitioning(o)
    # satisfies the distinct's (o, p) clustering (same o => same
    # partition), the basket window's o-partitioning, AND the pair
    # self-join's o key — so the whole derivation runs on ONE |lineitem|
    # exchange instead of two, and the distinct aggregates reduce-side
    # over an AQE-coalesced input.  The default plan's map-side distinct
    # was the setup stage's 10.4 GB x256 spill: (o, p) rows off a
    # lineitem scan are ~unique, so the partial aggregate combined
    # nothing and fell back to sort-based aggregation over the whole
    # scan (docs/spill_ledger_r10.jsonl).
    e = co_purchase_edges(pu.repartition("o").distinct())
    return triangle_counts(e).select(F.col("node").alias("part"), "triangles")


def co_purchase_edges(pu: DataFrame) -> DataFrame:
    """(order, part) pairs -> undirected co-purchase edge list (u < v),
    keeping pairs that co-occur in >= _TRI_MIN_SHARED orders — the
    distributed side of graph_triangle_counts' gate (the fused kernel
    derives the same edges in NumPy below it).

    The per-order pair expansion is quadratic in basket size, so orders
    with more than _TRI_MAX_BASKET distinct parts are dropped BEFORE the
    self-join — the cap bounds the worst single-row fan-out at
    _TRI_MAX_BASKET²/2 regardless of input skew.  ``pu`` arrives
    hash-partitioned on ``o``, which the cap window and the pair
    self-join both ride; operators/pairs.py counts the pairs."""
    baskets = cap_groups(pu, "o", _TRI_MAX_BASKET)
    return (
        pair_counts(baskets, "o", "p", ("u", "v"), "w")
        .filter(F.col("w") >= _TRI_MIN_SHARED)
        .select("u", "v")
    )
