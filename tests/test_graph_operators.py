"""Graph-operator unit tests: connected_components and pagerank."""

import numpy as np
import pytest

from datafusion_parallelism_spark.operators.graph import (
    connected_components,
    pagerank,
    triangle_counts,
)

from conftest import spy_calls, with_conf


def _cc(spark, edges):
    df = spark.createDataFrame(edges, schema="u long, v long")
    out = connected_components(df)
    return {r.node: r.cluster for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter > 1 forces multiple propagation rounds.
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cycle_and_disjoint_components(spark):
    got = _cc(spark, [(10, 11), (11, 12), (12, 10), (20, 21), (30, 31)])
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_edge_orientation_irrelevant(spark):
    assert _cc(spark, [(2, 1), (3, 2)]) == _cc(spark, [(1, 2), (2, 3)])


def test_path_1000_converges_log_diameter(spark):
    # Adversarial chain-shaped dup graph: plain min-label propagation needs
    # diameter (=999) iterations; pointer jumping must converge in <= 10.
    # (Measured: 5.)  This is the 100 TB posture — transitive dup chains
    # A~B~C~... can legitimately have huge diameter.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], schema="u long, v long"
    )
    stats = {}
    labels = connected_components(edges, max_iter=10, stats=stats)
    rows = labels.collect()
    assert len(rows) == 1000
    assert all(r.cluster == 0 for r in rows)
    assert stats["iterations"] <= 10


def test_stats_iterations_reported(spark):
    stats = {}
    df = spark.createDataFrame([(1, 2), (2, 3)], schema="u long, v long")
    connected_components(df, stats=stats).collect()
    assert stats["iterations"] >= 1


def _pr_reference(edges, damping, iterations):
    """NumPy power iteration — independent oracle for the Spark operator."""
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


def _pr(spark, edges, **kw):
    """Ranks of ``edges``, with their count as pagerank's edge bound: the
    one-task kernel unless the test patches its ceiling to 0."""
    df = spark.createDataFrame(edges, schema="u long, v long")
    ranks = pagerank(df, approx_edge_bound=len(edges), **kw)
    return {r.node: r["rank"] for r in ranks.collect()}


def test_pagerank_matches_numpy_reference(spark):
    # Asymmetric directed graph with a hub (3) and a cycle back edge.
    edges = [(1, 3), (2, 3), (4, 3), (3, 1), (1, 2), (5, 1)]
    got = _pr(spark, edges, damping=0.85, iterations=10)
    want = _pr_reference(edges, 0.85, 10)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_dangling_mass_redistributed(spark):
    # 1 -> 2 -> 3 with 3 dangling: ranks must still sum to 1 and increase
    # monotonically downstream (3 accumulates 2's mass which holds 1's).
    got = _pr(spark, [(1, 2), (2, 3)], damping=0.85, iterations=15)
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert got[1] < got[2] < got[3]
    want = _pr_reference([(1, 2), (2, 3)], 0.85, 15)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_pagerank_symmetric_graph_uniform(spark):
    # Bidirectional 3-cycle: perfect symmetry => exactly uniform ranks at
    # every iteration, regardless of damping.
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]
    got = _pr(spark, edges, damping=0.85, iterations=5)
    for v in got.values():
        assert abs(v - 1.0 / 3.0) < 1e-12


def test_graph_queries_match_oracle(spark, sf_dir_oracle):
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.testing import compare_to_oracle

    names = sorted(n for n in REGISTRY if n.startswith("graph_"))
    assert names, "graph_ family missing from registry"
    for name in names:
        spec = REGISTRY[name]
        assert spec.oracle is not None
        ok, detail = compare_to_oracle(
            spark, spec.fn(spark, sf_dir_oracle), spec.oracle, sf_dir_oracle
        )
        assert ok, f"{name}: {detail}"


def test_triangle_query_distributed_matches_oracle(spark, sf_dir_oracle, monkeypatch):
    """graph_triangle_counts with its lineitem-footer ceiling at 0: the
    distributed co-purchase pair count + triangle plan keeps oracle
    coverage, which the default run no longer reaches at test scale."""
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.queries import graph as graph_queries
    from datafusion_parallelism_spark.testing import compare_to_oracle

    monkeypatch.setattr(graph_queries, "_CO_PURCHASE_KERNEL_MAX_ROWS", 0)
    calls = spy_calls(monkeypatch, graph_queries, "_co_purchase_triangles_arrow")
    spec = REGISTRY["graph_triangle_counts"]
    df = spec.fn(spark, sf_dir_oracle)
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, detail
    assert not calls


def test_pagerank_query_distributed_matches_oracle(spark, sf_dir_oracle, monkeypatch):
    """graph_pagerank with its kernel ceiling at 0: the distributed power
    iteration keeps oracle coverage at query level, which the default
    run (the footer bound admits the kernel) does not reach at test
    scale."""
    from datafusion_parallelism_spark.operators import graph
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.testing import compare_to_oracle

    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    calls = spy_calls(monkeypatch, graph, "_pagerank_arrow")
    spec = REGISTRY["graph_pagerank"]
    df = spec.fn(spark, sf_dir_oracle)
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, detail
    assert not calls


def test_pagerank_duplicate_edges_collapsed(spark):
    # Edges are a set: duplicates must not double contributions.
    a = _pr(spark, [(1, 2), (2, 1)], iterations=5)
    b = _pr(spark, [(1, 2), (1, 2), (2, 1)], iterations=5)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_pagerank_kernel_matches_distributed_loop(spark, monkeypatch):
    """The r11 single-task Arrow kernel (an edge bound below
    _PAGERANK_KERNEL_MAX_EDGES) must emit the same ranks as the
    distributed join+aggregate loop — including dangling-mass handling
    (node 7 has no out-edges) and hub asymmetry.  The loop runs with the
    ceiling at 0, and with no bound at the default ceiling: the caller's
    bound is the only gate."""
    from datafusion_parallelism_spark.operators import graph

    edges = [
        (1, 3), (2, 3), (4, 3), (3, 1), (1, 2), (5, 1), (3, 7), (6, 7),
    ]
    calls = spy_calls(monkeypatch, graph, "_pagerank_arrow")
    kernel = _pr(spark, edges, damping=0.85, iterations=10)
    assert calls
    calls.clear()
    df = spark.createDataFrame(edges, schema="u long, v long")
    unbounded = {r.node: r["rank"] for r in pagerank(df, iterations=10).collect()}
    assert not calls
    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    dist = _pr(spark, edges, damping=0.85, iterations=10)
    assert not calls
    assert kernel.keys() == dist.keys() == unbounded.keys()
    for k in dist:
        assert abs(kernel[k] - dist[k]) < 1e-12
        assert abs(unbounded[k] - dist[k]) < 1e-12
    assert abs(sum(kernel.values()) - 1.0) < 1e-12


def test_pagerank_kernel_plan_is_single_arrow_pass(spark):
    """With an edge bound below the ceiling the plan must be the one-task
    Arrow kernel: a MapInArrow over the edges, no joins at all."""
    from datafusion_parallelism_spark.plans.shaping import physical_plan_str

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], schema="u long, v long"
    )
    plan = physical_plan_str(pagerank(edges, iterations=4, approx_edge_bound=6))
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan


def test_cc_kernel_matches_distributed_loop(spark, monkeypatch):
    """The r11 single-task CC kernel must emit the same labels AND the
    same iteration count as the distributed loop (it runs the identical
    integer schedule; _CC_KERNEL_MAX_EDGES=0 forces the loop)."""
    from datafusion_parallelism_spark.operators import graph

    edges = [(1, 2), (2, 3), (10, 11), (12, 12), (5, 6), (6, 7), (7, 8)]
    df = spark.createDataFrame(edges, schema="u long, v long")
    k_stats, d_stats = {}, {}
    calls = spy_calls(monkeypatch, graph, "_cc_arrow")
    kernel = {
        r.node: r.cluster
        for r in connected_components(df, stats=k_stats).collect()
    }
    assert calls
    calls.clear()
    monkeypatch.setattr(graph, "_CC_KERNEL_MAX_EDGES", 0)
    dist = {
        r.node: r.cluster
        for r in connected_components(df, stats=d_stats).collect()
    }
    assert not calls
    assert kernel == dist
    assert k_stats["iterations"] == d_stats["iterations"]


@pytest.mark.parametrize("ceiling", [None, 0], ids=["kernel", "ceiling_0"])
def test_cc_build_job_budget(spark, monkeypatch, ceiling):
    """connected_components' build launches the jobs its docstring
    budgets: the edge checkpoint, whose observe carries the edge count,
    then the kernel's checkpoint, or the loop's two setup checkpoints and
    one job per iteration plus the convergence check.  No separate count
    job.  AQE is off, as in the benchmark session at small inputs: with
    it on, each shuffle map stage is submitted as a job of its own."""
    from datafusion_parallelism_spark.metrics import jobs_submitted
    from datafusion_parallelism_spark.operators import graph

    if ceiling is not None:
        monkeypatch.setattr(graph, "_CC_KERNEL_MAX_EDGES", ceiling)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], schema="u long, v long"
    )
    stats = {}
    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        before = jobs_submitted(spark)
        connected_components(df, stats=stats)
        jobs = jobs_submitted(spark) - before
    if ceiling is None:
        assert jobs == 2
    else:
        assert jobs == 3 + stats["iterations"] + 1, (jobs, stats)


def test_triangle_kernel_matches_distributed(spark, monkeypatch):
    """r11 single-task triangle kernel ≡ distributed plan (exact integer
    counts) on a graph where degree order disagrees with id order;
    _TRI_KERNEL_MAX_EDGES=0 forces the distributed plan."""
    from datafusion_parallelism_spark.operators import graph

    raw = [(i, j) for i in range(10) for j in range(i + 1, 10) if (i * j) % 4 != 1]
    df = spark.createDataFrame(raw, schema="u long, v long")
    calls = spy_calls(monkeypatch, graph, "_tri_arrow")
    kern = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert calls
    calls.clear()
    monkeypatch.setattr(graph, "_TRI_KERNEL_MAX_EDGES", 0)
    dist = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert not calls
    assert kern == dist


@pytest.mark.parametrize("ceiling", [0, None])
@pytest.mark.parametrize(
    "op, const, kernel",
    [
        (pagerank, "_PAGERANK_KERNEL_MAX_EDGES", "_pagerank_arrow"),
        (connected_components, "_CC_KERNEL_MAX_EDGES", "_cc_arrow"),
        (triangle_counts, "_TRI_KERNEL_MAX_EDGES", "_tri_arrow"),
    ],
    ids=["pagerank", "cc", "triangles"],
)
def test_empty_graph_on_both_sides_of_the_gate(
    spark, monkeypatch, op, const, kernel, ceiling
):
    """An empty edge table yields zero rows on the kernel (default ceiling)
    and on the distributed side (ceiling 0).  Ceiling 0 means kernel off
    even for an input of 0 edges.  pagerank gets the bound 0, since only
    a caller's bound admits its kernel."""
    from datafusion_parallelism_spark.operators import graph
    from datafusion_parallelism_spark.plans.shaping import physical_plan_str

    calls = spy_calls(monkeypatch, graph, kernel)
    if ceiling is not None:
        monkeypatch.setattr(graph, const, ceiling)
    edges = spark.createDataFrame([], schema="u long, v long")
    out = op(edges, approx_edge_bound=0) if op is pagerank else op(edges)
    plan = physical_plan_str(out)
    assert out.count() == 0
    assert bool(calls) == (ceiling is None), calls
    if ceiling == 0:
        assert "MapInArrow" not in plan, plan


@pytest.mark.parametrize("ceiling", [0, None])
@pytest.mark.parametrize(
    "name",
    [
        "vec_kmeans_clusters",
        "vec_pq_codes",
        "ann_pq_topk",
        "ann_ivfpq_topk",
        "mix_cluster_balanced_sample",
    ],
    ids=["kmeans", "pq_codes", "pq_topk", "ivfpq_topk", "cluster_sample"],
)
def test_empty_corpus_on_both_sides_of_the_gate(
    spark, monkeypatch, tmp_path, name, ceiling
):
    """A 0-row embeddings table yields zero rows from every PQ and k-means
    query with the one-task kernel (default ceiling) and with the
    distributed trainer (ceiling 0), as the DuckDB oracle does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_parallelism_spark.operators import vectors
    from datafusion_parallelism_spark.queries import REGISTRY

    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(schema.empty_table(), tmp_path / "embeddings.parquet")
    if ceiling is not None:
        monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", ceiling)
    assert REGISTRY[name].fn(spark, str(tmp_path)).count() == 0
