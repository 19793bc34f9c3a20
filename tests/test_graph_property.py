"""Property-based checks: connected_components vs a union-find reference,
pagerank vs NumPy power iteration, triangle_counts vs brute force.

Random edge lists (self-loops, duplicate edges, both orientations, chain
fragments) — each operator (operators/graph.py) must produce exactly what
the sequential reference derives.  Every property runs on both sides of
the operator's kernel gate: at the default ceiling (these small graphs
take the single-task Arrow kernel) and with the ceiling patched to 0
(the distributed plan).  The ceiling-0 side runs fewer examples because
each example there launches many more Spark jobs.  The ceiling-0 PageRank
and connected-components loops also draw the shuffle width: the session's,
or 16, wider than these graphs' state."""

import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.operators import graph
from datafusion_parallelism_spark.operators.graph import connected_components

from conftest import arrow_frame, with_conf

#: Confs for a ceiling-0 loop: the session's own shuffle width, or 16.
WIDE = {"spark.sql.shuffle.partitions": "16"}
conf_st = st.sampled_from([{}, WIDE])

edges_st = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=20
)


def _uf(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    out = {}
    for members in comp.values():
        m = min(members)
        for node in members:
            out[node] = m
    return out


def _examples(n):
    return settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


def _check_cc(spark, edges):
    df = arrow_frame(spark, edges, u=pa.int64(), v=pa.int64())
    got = {r.node: r.cluster for r in connected_components(df).collect()}
    assert got == _uf(edges)


@given(edges=edges_st)
@_examples(8)
def test_connected_components_matches_union_find(spark, edges):
    _check_cc(spark, edges)


@given(edges=edges_st, conf=conf_st)
@example(edges=[(0, 1), (1, 2), (2, 3), (5, 6), (7, 7)], conf=WIDE)
@_examples(6)
def test_connected_components_matches_union_find_at_ceiling_0(
    spark, monkeypatch, edges, conf
):
    monkeypatch.setattr(graph, "_CC_KERNEL_MAX_EDGES", 0)
    with with_conf(spark, conf):
        _check_cc(spark, edges)


pr_edges_st = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=15,
)


def _pr_numpy(edges, damping, iterations):
    import numpy as np

    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for u, _ in edges:
        outdeg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / outdeg[idx[u]]
        dm = r[outdeg == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dm / n)
    return {nodes[i]: r[i] for i in range(n)}


def _check_pagerank(spark, edges):
    """Random digraphs (self-loops, duplicates, dangling nodes): the
    power iteration must agree with a sequential NumPy one to
    float-summation-order tolerance, and ranks must stay a distribution.
    The edge count is pagerank's edge bound, so its ceiling picks the
    side."""
    from datafusion_parallelism_spark.operators.graph import pagerank

    df = arrow_frame(spark, edges, u=pa.int64(), v=pa.int64())
    ranks = pagerank(df, iterations=6, approx_edge_bound=len(edges))
    got = {r.node: r["rank"] for r in ranks.collect()}
    want = _pr_numpy(edges, 0.85, 6)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-10
    assert abs(sum(got.values()) - 1.0) < 1e-10


@given(edges=pr_edges_st)
@_examples(6)
def test_pagerank_matches_numpy_on_random_graphs(spark, edges):
    _check_pagerank(spark, edges)


@given(edges=pr_edges_st, conf=conf_st)
@example(edges=[(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 1)], conf=WIDE)
@_examples(4)
def test_pagerank_matches_numpy_on_random_graphs_at_ceiling_0(
    spark, monkeypatch, edges, conf
):
    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    with with_conf(spark, conf):
        _check_pagerank(spark, edges)


# ---------------------------------------------------------------------------
# triangle_counts vs brute-force enumeration
# ---------------------------------------------------------------------------

from itertools import combinations

from datafusion_parallelism_spark.operators.graph import triangle_counts


def _check_triangles(spark, edges):
    # normalize: simple undirected graph, u < v, no self-loops/dups
    simple = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not simple:
        return
    eset = set(simple)
    nodes = sorted({n for e in simple for n in e})
    expected = {}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in eset and (a, c) in eset and (b, c) in eset:
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    df = arrow_frame(spark, simple, u=pa.int64(), v=pa.int64())
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


@given(edges_st)
@_examples(12)
def test_triangle_counts_match_bruteforce(spark, edges):
    _check_triangles(spark, edges)


@given(edges_st)
@_examples(12)
def test_triangle_counts_match_bruteforce_at_ceiling_0(spark, monkeypatch, edges):
    monkeypatch.setattr(graph, "_TRI_KERNEL_MAX_EDGES", 0)
    _check_triangles(spark, edges)


# ---------------------------------------------------------------------------
# co_purchase_edges basket cap: a pathological star basket must be excluded
# before the quadratic pair expansion
# ---------------------------------------------------------------------------


def test_basket_cap_excludes_star_order(spark):
    """One 10,000-part order (50M pairs if expanded) plus normal baskets:
    the capped derivation must (a) finish fast because the star is dropped
    pre-join, (b) produce the same edges and triangle counts as the
    star-free input."""
    from datafusion_parallelism_spark.queries.graph import co_purchase_edges

    normal = [(o, p) for o in range(1, 6) for p in (1, 2, 3)]  # 5 co-triangles
    star = [(999, p) for p in range(10_000)]
    pu = spark.createDataFrame(normal + star, "o long, p long")
    edges = co_purchase_edges(pu)
    got = sorted((r.u, r.v) for r in edges.collect())
    assert got == [(1, 2), (1, 3), (2, 3)]
    tri = {r.node: r.triangles for r in triangle_counts(edges).collect()}
    assert tri == {1: 1, 2: 1, 3: 1}


def test_basket_cap_inert_below_threshold(spark):
    """Baskets at exactly the cap are kept — the guard only fires above."""
    from datafusion_parallelism_spark.queries.graph import (
        _TRI_MAX_BASKET,
        co_purchase_edges,
    )

    pu = spark.createDataFrame(
        [(1, p) for p in range(_TRI_MAX_BASKET)]
        + [(2, p) for p in range(_TRI_MAX_BASKET)],
        "o long, p long",
    )
    edges = co_purchase_edges(pu)
    # every pair co-occurs in both orders -> all C(64,2) edges survive
    assert edges.count() == _TRI_MAX_BASKET * (_TRI_MAX_BASKET - 1) // 2
