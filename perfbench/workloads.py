"""Workload definitions: a fixed query list over one generated data scale.

Every pass rebuilds each DataFrame from scratch and executes it, as
``bench.py`` does.  The workload seed only shuffles the query order within
each pass; the data is generated from a fixed data seed so oracle results
can be cached per data directory.

The lists are subsets of ``bench.py``'s headline set, sized so that one run
(session start, one warm-up pass that checks every result, and three
measured passes) takes about a minute on a 4-core 2 GHz machine, where the
JVM start, table registration and warm-up alone take 25-40 s.
Each subset keeps the queries that stress each layer most in a traced
survey of the whole headline set (``run.py --queries ... --trace 1``);
``perfbench/README.md`` gives the numbers.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    why: str


SQL_QUERIES = (
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
    "tpch_q21",
    "join_inner_chain",
    "window_rank_orders",
    "agg_count_distinct",
)

PIPELINE_QUERIES = (
    "ann_pq_topk",
    "dedup_minhash_lsh",
    "graph_triangle_counts",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sql_sf0.01",
            0.01,
            SQL_QUERIES,
            "7 SQL queries (TPC-H, join chain, window, distinct agg), no "
            "Python worker; per-query fixed cost dominates: Catalyst, job "
            "scheduling, small shuffles",
        ),
        Workload(
            "pipeline_sf0.01",
            0.01,
            PIPELINE_QUERIES,
            "PQ search, MinHash dedup, triangles: eager build-time checkpoint "
            "jobs, single-task Arrow kernels in Python workers and the "
            "pair-stream shuffle dominate",
        ),
    )
}

#: Every query any workload runs; the traced run reports a wall per name.
ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)
