"""Iterative graph operators on DataFrames (dedup clusters, PageRank).

Near-dup detection emits PAIRS; a dedup pipeline must resolve them into
clusters and pick one canonical doc per cluster.  That is connected
components — an inherently iterative algorithm the reference's SQL surface
cannot express (and the class of computation its bounded-execution model
never covers).

Implementation: minimum-label propagation with POINTER JUMPING.  Each
node starts labeled with itself; every iteration (a) takes the min of its
own label and its neighbors' labels (one-hop propagation), then (b) twice
replaces its label with its label's label (path compression, the pointer-
doubling trick from PRAM connectivity / Kiveris et al.'s "Connected
Components in MapReduce and Beyond").  Labels only decrease, so the
global label sum decreases monotonically and equality == fixpoint.  At a
fixpoint every edge has equal endpoint labels (both orientations are
present, so propagation enforces l(u) <= l(v) and l(v) <= l(u)) and the
component minimum m keeps l(m) = m, hence every label equals its
component minimum — same contract as plain propagation.

Plain propagation needs diameter iterations — fine for LSH near-dup
cliques, fatal for adversarial chain-shaped dup graphs (A~B~C~...) whose
diameter at 100 TB can be thousands.  Jumping compresses label chains
geometrically: a 1000-node path converges in <= 8 iterations (pinned in
tests/test_graph_operators.py) instead of 999.

Scale posture: every per-iteration stage is distributed (shuffled joins +
aggregations); the driver only sees one SCALAR per iteration (the label
sum / the dangling mass), and since round 5 that scalar rides the
iteration's single materialization job via ``DataFrame.observe`` — each
iteration is exactly ONE Spark job, no separate collect/broadcast jobs.
Lineage is truncated with localCheckpoint every iteration so plans stay
O(1) deep regardless of iteration count (the standard Spark iterative-
algorithm hygiene).  The loops shuffle at the session's width
(``spark.sql.shuffle.partitions``: the planner's own exchanges, with
map-side combine).  They run only above the 4M-edge kernel ceilings, where
a session width of at most 4 × cores leaves thousands of edges in every
partition, so no loop stage schedules near-empty tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..plans.shaping import checkpoint_pinned, kernel_fits

#: Edge-count ceiling for the single-task PageRank kernel (round 11).
#: Below it, the whole power iteration runs inside ONE ``mapInArrow``
#: task over the materialized edge table instead of 10 distributed
#: join+aggregate rounds.  Rationale (guide §1.3 napkin math): a
#: distributed iteration moves ~|E| rows through an exchange per
#: iteration (10·|E| total) plus pays ~2 stage walls + a checkpoint per
#: round — measured 0.26–0.29 s/iteration of almost pure scheduling
#: overhead at sf0.1 (1.17M edges, ~80 ms of task time per round;
#: docs/pagerank_decomp_r11.json) — while the kernel moves the edges
#: ONCE and runs the 10 gather/scatter passes in vectorized NumPy
#: (~20 ms each).  4M edges ≈ 24 B/edge ≈ 100 MB of task arrays, well
#: inside one task's memory share on any sane executor; above the
#: ceiling the distributed loop (the 100 TB path) is unchanged.
#: 0 turns the kernel off (tests patch it to force the distributed loop).
_PAGERANK_KERNEL_MAX_EDGES = 4_000_000


def _pagerank_arrow(edges: DataFrame, damping: float, iterations: int) -> DataFrame:
    """Single-task PageRank over a small (src, dst) edge table.

    Duplicate edges collapse inside the kernel (a NumPy unique on the
    packed index pair, saving the caller a distributed distinct
    exchange), and the kernel computes w = 1/outdeg(src) itself, the
    same IEEE division the distributed loop does.  All ``iterations``
    power-iteration steps run inside one ``mapInArrow`` task:
    contributions via ``np.bincount`` (the exact rank·w products the
    distributed plan computes, summed per dst in index order — a
    reordering of the same IEEE doubles, the tolerance every oracle
    already grants the distributed SUM), dangling mass by the same
    conservation identity D = 1 − Σ contrib the observe-based loop uses.

    The edges are fetched into the one task by a keyless
    ``repartition(1)``: their derivation has not been materialized, and
    a narrow ``coalesce(1)`` would collapse its upstream stages to one
    task too.  The exchange keeps the derivation parallel and moves only
    the final |E| rows to the kernel task."""
    node_t = edges.schema["src"].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        srcs, dsts = [], []
        for b in batches:
            srcs.append(b.column(0).to_numpy(zero_copy_only=False))
            dsts.append(b.column(1).to_numpy(zero_copy_only=False))
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
        n = int(len(nodes))
        if n == 0:
            return
        # Edge dedup on the packed (si, di) index pair: si, di < n, and
        # n·n fits int64 under the kernel's edge ceiling.
        packed = np.unique(idx[: len(src)].astype(np.int64) * n + idx[len(src):])
        si = packed // n
        di = packed % n
        outdeg = np.bincount(si, minlength=n).astype(np.float64)
        with np.errstate(divide="ignore"):
            winv = 1.0 / outdeg  # dangling nodes have no src rows
        w = winv[si]
        rank = np.full(n, 1.0 / n)
        for _ in range(iterations):
            contrib = np.bincount(di, weights=rank[si] * w, minlength=n)
            dm = 1.0 - contrib.sum()
            rank = (1.0 - damping) / n + damping * (contrib + dm / n)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes), pa.array(rank, type=pa.float64())],
            names=["node", "rank"],
        )

    return (
        edges.select("src", "dst")
        .repartition(1)
        .mapInArrow(kernel, schema=f"node {node_t}, rank double")
    )


def _cc_arrow(und: DataFrame, max_iter: int) -> DataFrame:
    """Single-task connected components over a small symmetrized distinct
    edge table: the EXACT distributed schedule (one-hop neighbor minimum +
    two pointer jumps per iteration, stop on unchanged labels, give up
    past ``max_iter``) run in NumPy inside one ``mapInArrow`` task.  Pure
    integer math — iterates and iteration counts are identical to the
    distributed loop by construction.  Emits (node, cluster, iters,
    converged) with the last two constant; the task never raises, so
    :func:`connected_components` reports non-convergence on the driver
    from the observed ``converged`` flag."""
    node_t = und.schema["src"].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        srcs, dsts = [], []
        for b in batches:
            srcs.append(b.column(0).to_numpy(zero_copy_only=False))
            dsts.append(b.column(1).to_numpy(zero_copy_only=False))
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        nodes = np.unique(np.concatenate([src, dst]))
        n = len(nodes)
        if n == 0:
            return
        si = np.searchsorted(nodes, src)
        di = np.searchsorted(nodes, dst)
        # Labels as indices into the sorted node array: index order ==
        # id order, so index minima are id minima.
        label = np.arange(n, dtype=np.int64)
        converged = False
        iterations = 0
        for _ in range(max_iter + 1):
            new = label.copy()
            np.minimum.at(new, si, label[di])  # one-hop neighbor min
            new = new[new]  # pointer jump 1
            new = new[new]  # pointer jump 2
            if np.array_equal(new, label):
                converged = True
                break
            label = new
            iterations += 1
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(nodes),
                pa.array(nodes[label]),
                pa.array(np.full(n, iterations, dtype=np.int32)),
                pa.array(np.full(n, converged)),
            ],
            names=["node", "cluster", "iters", "converged"],
        )

    return und.coalesce(1).mapInArrow(
        kernel,
        schema=f"node {node_t}, cluster {node_t}, iters int, converged boolean",
    )


#: Edge-count ceiling for the single-task connected-components kernel —
#: same arithmetic and rationale as _PAGERANK_KERNEL_MAX_EDGES (the CC
#: loop additionally runs a VARIABLE number of driver-synced iterations,
#: up to max_iter + 1 jobs).
_CC_KERNEL_MAX_EDGES = 4_000_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: DataFrame with two columns (u, v) — one row per edge (either
    orientation).  Returns DataFrame (node, cluster) where cluster is the
    minimum node id in the component.  Nodes appear iff they occur in an
    edge (callers union isolated nodes if needed).

    ``stats``: optional dict; on return ``stats["iterations"]`` holds the
    number of label-update iterations executed (convergence-detection
    iteration excluded) — observability for the log-diameter guarantee.

    Raises ``RuntimeError`` on the driver when the labels have not
    converged within ``max_iter`` iterations, on either path.

    Job budget: the edge checkpoint, whose ``observe`` carries the edge
    count, then either the kernel's checkpoint (2 jobs in all) or the
    loop: the dst-pinned edge and label checkpoints, then exactly 1 job
    per iteration — the label checkpoint, whose ``observe`` carries the
    convergence sum (``stats["iterations"]`` + 1 of them, counting the
    convergence check).  These counts assume AQE is off: with AQE on,
    ``metrics.jobs_submitted`` also counts each shuffle map stage as a job
    of its own.
    """
    u, v = edges.columns[:2]
    # Symmetrize with ONE generator pass, not union-of-projections: union
    # would inline the caller's edge-producing subtree twice, and unless
    # its top happens to be a reusable exchange, both copies execute
    # (e.g. dedup_near_clusters feeds the MinHash verify join here — its
    # shingle HOF stage ran twice before this).  explode touches the
    # subtree once by construction.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(u).alias("src"), F.col(v).alias("dst")),
                    F.struct(F.col(v).alias("src"), F.col(u).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    # The edge list is re-joined every iteration; without truncating its
    # lineage here, the WHOLE upstream pipeline that produced the edges
    # (e.g. MinHash-LSH candidate generation) re-executes per iteration.
    # The edge count rides the checkpoint job.
    obs_m = Observation()
    und = und.observe(obs_m, F.count(F.lit(1)).alias("m")).localCheckpoint(
        eager=True
    )
    m = obs_m.get["m"]
    # Small-graph fast path (round 11): below the
    # kernel ceiling the whole label-propagation loop (up to max_iter + 1
    # driver-synced jobs of pure scheduling floor on a near-dup candidate
    # graph) runs inside ONE Arrow task with the identical integer
    # schedule.  Its iteration count and convergence flag ride the eager
    # checkpoint job as observe metrics, so non-convergence raises here
    # on the driver, from THIS call, without a failed task.
    if kernel_fits(m, _CC_KERNEL_MAX_EDGES):
        obs_k = Observation()
        labeled = (
            _cc_arrow(und, max_iter)
            .observe(
                obs_k,
                F.min("iters").alias("iters"),
                F.min("converged").alias("converged"),
            )
            .localCheckpoint(eager=True)
        )
        if obs_k.get["converged"] is False:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations (component diameter exceeds max_iter); "
                "raise max_iter"
            )
        if stats is not None:
            stats["iterations"] = obs_k.get["iters"] or 0
        return labeled.select("node", "cluster")
    # Pin the (large) edge side on dst once; the per-iteration join
    # und⋈labels is then co-partitioned and exchange-free and pre-SORTED
    # on dst so the per-iteration SortMergeJoin skips re-sorting the
    # loop-invariant edge side too.  checkpoint_pinned is what makes both
    # properties real at scale: a plain localCheckpoint under AQE stores
    # Unknown/Nil and every iteration re-exchanges AND re-sorts the
    # |E|-row side (round-10 finding).
    und = checkpoint_pinned(und.repartition("dst").sortWithinPartitions("dst"))

    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    obs0 = Observation()
    labels = checkpoint_pinned(labels.observe(obs0, F.sum("cluster").alias("s")))
    prev_sum = obs0.get["s"]

    converged = False
    iterations = 0
    # max_iter + 1: detecting convergence costs one extra (no-change)
    # iteration, so the usable propagation budget stays a full max_iter.
    for _ in range(max_iter + 1):
        neighbor_min = (
            und.join(labels, und["dst"] == labels["node"])
            .select("src", "cluster")
            .groupBy("src")
            .agg(F.min("cluster").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
                ).alias("cluster"),
            )
        )
        # Pointer jumping ×2: cluster <- cluster's cluster.  Every label
        # IS a node id of the same component (initial l(x)=x; propagation
        # and jumping both pick labels of component members), so the
        # self-join always finds the row; coalesce guards the left join
        # anyway.  l(l(u)) <= l(u) because l is monotone (<= identity),
        # so the sum still decreases monotonically and equality remains a
        # fixpoint test.  Two jumps per round ~4x chain compression at
        # the cost of two cheap label-table joins — the jumps are LAZY
        # plan nodes inside the iteration's single job, not extra jobs.
        for _ in range(2):
            parents = new_labels.select(
                F.col("node").alias("p_node"), F.col("cluster").alias("p_cluster")
            )
            new_labels = (
                new_labels.join(parents, F.col("cluster") == parents["p_node"], "left")
                .select(
                    "node",
                    F.coalesce(F.col("p_cluster"), F.col("cluster")).alias("cluster"),
                )
            )
        obs = Observation()
        labels = new_labels.observe(
            obs, F.sum("cluster").alias("s")
        ).localCheckpoint(eager=True)
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            converged = True
            break
        iterations += 1
        prev_sum = new_sum
    if stats is not None:
        stats["iterations"] = iterations
    if not converged:
        # Silent wrong labels are worse than failing: min-label propagation
        # moves the minimum one hop per iteration, so a component with
        # diameter > max_iter would return non-minimal cluster ids.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    assume_distinct: bool = False,
    approx_edge_bound: int | None = None,
) -> DataFrame:
    """PageRank with uniform teleport and dangling-mass redistribution.

    Web-scale corpus curation weights documents by the link authority of
    their source (the CommonCrawl-style quality signal); this is the
    distributed power iteration that computes it.  Fixed ``iterations``
    (no convergence test) keeps the result a deterministic function of the
    graph — the property that lets an unrolled-CTE SQL oracle reproduce it
    bit-for-bit up to summation order.

    ``edges``: DataFrame whose first two columns are (src, dst); duplicate
    edges are collapsed (unweighted graph) unless the caller guarantees
    distinctness with ``assume_distinct=True``, which skips the loop's
    full edge-sized dedup exchange (the kernel dedups in NumPy either
    way; graph_pagerank's pairs are distinct-then-symmetrized over a
    disjoint odd/even node encoding, so its union can never introduce
    duplicates).  Nodes appear iff they occur in an edge.

    ``approx_edge_bound``: the caller's UPPER bound on the edge count,
    read from metadata, and the only kernel gate: at most
    ``_PAGERANK_KERNEL_MAX_EDGES`` runs the whole power iteration as the
    one-task kernel (:func:`_pagerank_arrow`); no bound (``None``) runs
    the distributed loop.

    Returns (node, rank) with sum(rank) == 1 (no rows for an empty edge
    table): per iteration,

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u) + D/N)

    where D is the total rank mass sitting on dangling nodes (outdeg 0),
    redistributed uniformly — the standard strongly-preferential handling,
    which preserves the probability-distribution invariant.  D is computed
    by MASS CONSERVATION, not a second pass over ranks: every node with
    out-edges distributes exactly its rank (Σ_v contrib(v) = Σ_{outdeg>0}
    rank(u)) and Σ rank = 1 is invariant, so D = 1 - Σ_v contrib(v) — and
    since round 5 that sum rides the contribution table's checkpoint job
    as an ``observe`` metric, so D costs NO extra job, aggregation pass,
    or broadcast (fp value is the identical IEEE double either way; drift
    vs the direct sum is ~1e-15/iteration, far under the 1e-7 oracle
    rounding).

    Scale posture: edges are normalized ONCE into (src, dst, 1/outdeg),
    REPARTITIONED BY src, pre-sorted and lineage-truncated with
    checkpoint_pinned — the checkpoint that actually KEEPS the hash
    partitioning and sort order in its LogicalRDD under AQE (a plain
    localCheckpoint stores Unknown/Nil there, and at x256 that cost a
    full |E| re-exchange + re-sort every iteration: 139 GB of sort spill,
    the round-9 verdict's top item).  With the pin, the per-iteration
    join edges⋈ranks re-exchanges and re-sorts NEITHER side (ranks
    arrives node-partitioned and node-sorted out of its own SMJ), leaving
    exactly ONE large exchange per iteration: the contribution SUM moving
    mass from src- to dst-partitioning (information-theoretically
    required), plus a |V|-sized contrib re-exchange in the lazy ranks
    view (the contrib checkpoint deliberately stays un-pinned so the
    heavy aggregation job keeps AQE's advisory-size coalescing).  Job
    budget: the kernel path launches no job at build; the loop takes 2
    setup jobs (normalized-edge and node checkpoints, with the edge/node
    counts riding them as observe metrics), then exactly 1 job per
    iteration.  These counts assume AQE is off: with AQE on,
    ``metrics.jobs_submitted`` also counts each shuffle map stage as a job
    of its own.  The only driver state is three scalars (m, n, and D per
    iteration).
    """
    u, v = edges.columns[:2]
    e = edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
    # Bounded-ahead kernel path (round 11): an UPPER bound, so the "small"
    # decision is never wrong on a big graph.  It skips the distributed
    # loop's whole setup — src-repartition, normalization, presort, node
    # checkpoint — and runs the entire power iteration as ONE job.  See
    # _PAGERANK_KERNEL_MAX_EDGES for the sizing argument.
    if kernel_fits(approx_edge_bound, _PAGERANK_KERNEL_MAX_EDGES):
        return _pagerank_arrow(e, damping, iterations)
    if not assume_distinct:
        e = e.distinct()
    # Pre-normalized edge weights: contribution of u to v is rank(u) * w
    # with w = 1/outdeg(u).  1/k is the same IEEE double in any engine, so
    # cross-engine drift reduces to SUM order alone.
    #
    # Loop-table layout (round 11): the loop-invariant edge table is
    # GROUPED PER SOURCE — (src, dsts: array<dst>, w = 1/|dsts|) — instead
    # of one row per edge.  The per-iteration SortMergeJoin then merges
    # |V| rows instead of |E| (~outdeg× fewer comparisons), the cached
    # table the loop re-reads every iteration shrinks from |E|·~94 B rows
    # to |E|·8 B of array payload + |V| row overheads (the r10 x256
    # ledger's 19 GB/iteration re-read was the evidenced floor of the
    # row-per-edge form), and setup drops the outdeg self-join (w is
    # 1/size(dsts), the identical IEEE division).  The explode back to
    # (dst, c) rows is a narrow generator feeding the same partial
    # aggregate, so shuffle volume and the contribution SUM are
    # unchanged; per-dst sum ORDER changes with row order, which the
    # oracle's 1e-7 rounding has always absorbed (same tolerance class as
    # DuckDB's own order).
    e_loop = (
        e.repartition(F.col("src"))
        .groupBy("src")
        .agg(F.collect_list("dst").alias("dsts"))
        .select("src", "dsts", (F.lit(1.0) / F.size("dsts")).alias("w"))
    )
    obs_m = Observation()
    e_loop = checkpoint_pinned(
        e_loop.observe(
            obs_m, F.coalesce(F.sum(F.size("dsts")), F.lit(0)).alias("m")
        ).sortWithinPartitions("src")
    )
    if obs_m.get["m"] == 0:
        # No nodes: the loop's 1/n teleport term is undefined.
        return e_loop.select(F.col("src").alias("node"), F.lit(0.0).alias("rank"))

    nodes = (
        e_loop.select(F.col("src").alias("node"))
        .union(e_loop.select(F.explode("dsts").alias("node")))
        .distinct()
    )
    obs_n = Observation()
    nodes = checkpoint_pinned(
        nodes.observe(obs_n, F.count(F.lit(1)).alias("n")).sortWithinPartitions("node")
    )
    n = obs_n.get["n"]

    # Loop shape: the ONLY materialization per iteration is the
    # contribution table (eager checkpoint = one job), whose observe
    # metric delivers the dangling mass to the driver as a scalar.  The
    # rank vector itself stays a SHALLOW LAZY view over the materialized
    # contribs (nodes ⋈ contrib, both checkpoint-partitioned at session
    # width → co-partitioned, exchange-free; D enters as a literal): it
    # is consumed exactly once (next iteration's contribution join), so
    # nothing in the loop is ever computed twice and plans stay O(1)
    # deep without checkpointing ranks at all.
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        rows = e_loop.join(ranks, e_loop["src"] == ranks["node"]).select(
            F.explode("dsts").alias("dst"),
            (F.col("rank") * F.col("w")).alias("c"),
        )
        obs = Observation()
        contrib = (
            rows.groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
            .observe(obs, F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("s"))
            .localCheckpoint(eager=True)
        )
        dm = F.lit(1.0 - obs.get["s"])
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dm / F.lit(float(n)))
            ).alias("rank"),
        )
    return ranks


#: Edge-count ceiling for the single-task triangle kernel.  Wedge volume
#: is Σ outdeg² ≤ m^1.5 under the compact-forward orientation; the kernel
#: streams wedges in O(m) memory per gap step, so the ceiling only bounds
#: TIME (~m^1.5 vectorized ops).
_TRI_KERNEL_MAX_EDGES = 200_000


def _tri_numpy(u, v):
    """(nodes, triangles): the per-node triangle counts of an undirected
    simple graph given as NumPy edge arrays ``u`` < ``v`` (distinct), for
    the nodes in at least one triangle.  The one compact-forward
    implementation, called by the edge-table kernel (_tri_arrow) and the
    fused co-purchase kernel (queries/graph.py) alike: orient by (degree,
    id), enumerate each apex's out-edge pairs once, check the closing edge
    undirected — the distributed plan's algorithm in vectorized NumPy.
    Pure integer math, so counts are exactly the distributed result.
    Wedges are generated per GAP (pairs of positions g apart inside each
    apex's dst-sorted out-edge block), keeping memory O(m) regardless of
    wedge volume."""
    import numpy as np

    m = len(u)
    if m == 0:
        return u[:0], np.zeros(0, dtype=np.int64)
    nodes = np.unique(np.concatenate([u, v]))
    n = int(len(nodes))
    ui = np.searchsorted(nodes, u)
    vi = np.searchsorted(nodes, v)
    deg = np.bincount(np.concatenate([ui, vi]), minlength=n)
    # (degree, id) lexicographic key packed into one int64.
    ku = deg[ui].astype(np.int64) * n + ui
    kv = deg[vi].astype(np.int64) * n + vi
    fwd = ku < kv
    src = np.where(fwd, ui, vi)
    dst = np.where(fwd, vi, ui)
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    c = np.bincount(src, minlength=n)  # outdeg
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    within = np.arange(m) - starts[src]
    cbl = c[src]
    eset = np.sort(ui.astype(np.int64) * n + vi)  # id-normalized edges
    tri = np.zeros(n, dtype=np.int64)
    for g in range(1, int(c.max())):
        sel = within + g < cbl
        p = np.nonzero(sel)[0]
        if len(p) == 0:
            break
        ta, tb, tc = src[p], dst[p], dst[p + g]
        packed = tb.astype(np.int64) * n + tc
        pos = np.searchsorted(eset, packed)
        ok = pos < len(eset)
        ok[ok] = eset[pos[ok]] == packed[ok]
        if ok.any():
            tri += np.bincount(ta[ok], minlength=n)
            tri += np.bincount(tb[ok], minlength=n)
            tri += np.bincount(tc[ok], minlength=n)
    nz = tri > 0
    return nodes[nz], tri[nz]


def _tri_arrow(edges: DataFrame) -> DataFrame:
    """Single-task per-node triangle counts over a small (u < v, distinct)
    edge table: one ``mapInArrow`` task over _tri_numpy."""
    node_t = edges.schema["u"].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        us, vs = [], []
        for b in batches:
            us.append(b.column(0).to_numpy(zero_copy_only=False))
            vs.append(b.column(1).to_numpy(zero_copy_only=False))
        if not us:
            return
        nodes, tri = _tri_numpy(np.concatenate(us), np.concatenate(vs))
        if len(nodes) == 0:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes), pa.array(tri)], names=["node", "triangles"]
        )

    return edges.coalesce(1).mapInArrow(
        kernel, schema=f"node {node_t}, triangles long"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts for an UNDIRECTED simple graph given as a
    (u, v) edge DataFrame with u < v, no duplicates.

    Compact-forward orientation: each edge is re-pointed from its
    lower-(degree, id) endpoint to the higher one, so every triangle has
    exactly one "apex" node whose two out-edges form the wedge — each
    triangle is generated once, and wedge fan-out is bounded by
    Σ outdeg(v)² with max outdeg O(√m) on ANY degree distribution (the
    hub-skew guard: a star graph's center gets outdeg 0, not n).  The
    closing edge is checked with a LEFT SEMI join (existence, no
    multiplication).  Two hash shuffles total (wedge key src, probe key
    (dst, dst)); nothing graph-sized is broadcast or collected.

    Reference analog: none (the reference has no graph surface); this is
    the standard distributed formulation (cf. Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer").

    Join strategy (round 10): both the wedge join and the closing-edge
    semi join build their hash table from an EDGE-sized side while the
    potentially much larger wedge table streams, so they are forced to
    shuffled-hash with hints — under SortMergeJoin the closing-edge probe
    SORTED the whole Σ outdeg² wedge table (the r9 ledger's 29 GB x256
    memory spill).  An SHJ build partition holds |E|/width rows, which
    AQE's advisory sizing keeps bounded at any corpus size; the wedge
    side is never sorted anywhere in the plan.

    Edge materialization + small-graph kernel (round 11): the edge list
    has THREE consumers below (two degree projections + the orientation
    join), and Spark's ReuseExchange only shares the exchange WRITE — the
    x256 counters showed the pair-count reduce above it executing three
    times (its 1.49 GB exchange read 3×).  An eager observe-counted
    checkpoint runs the (expensive) edge derivation exactly once, and the
    measured count gates the single-task NumPy kernel (_tri_arrow) for
    small graphs — same algorithm, exact integer counts, one task instead
    of ~6 stages.  The checkpoint runs on both sides of the gate."""
    obs = Observation()
    edges = edges.observe(
        obs, F.count(F.lit(1)).alias("m")
    ).localCheckpoint(eager=True)
    if kernel_fits(obs.get["m"], _TRI_KERNEL_MAX_EDGES):
        return _tri_arrow(edges)
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select("v"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    keyed = (
        edges.join(du, F.col("du.n") == F.col("u"))
        .join(dv, F.col("dv.n") == F.col("v"))
        .select(
            "u",
            "v",
            F.struct(F.col("du.d").alias("d"), F.col("u").alias("n")).alias("ku"),
            F.struct(F.col("dv.d").alias("d"), F.col("v").alias("n")).alias("kv"),
        )
    )
    # Round 11: the oriented table carries ONLY (src, dst) — r10's kdst
    # struct (the dst endpoint's (degree, id) key) rode along solely so
    # the closing-edge probe could be DIRECTIONAL in orientation order.
    # Ordering the wedge pair by plain dst id still generates each
    # out-edge pair exactly once (any antisymmetric order on distinct
    # ids does), and the closing edge is then checked UNDIRECTED: probe
    # (tb, tc) with tb < tc by id against the id-normalized edge set
    # (least/greatest over the cached o — the original u < v edge list
    # by construction).  Orientation by (degree, id) is still what
    # bounds wedge fan-out; it just no longer needs to be carried.
    # Effect: the wedge exchange and the o cache drop the 16-byte-struct
    # column (~2.5× narrower wedge shuffle rows).
    o = keyed.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)
    e1, e2 = o.alias("e1"), o.alias("e2").hint("shuffle_hash")
    closing = o.select(
        F.least("src", "dst").alias("cu"), F.greatest("src", "dst").alias("cv")
    ).hint("shuffle_hash")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("ta"),
            F.col("e1.dst").alias("tb"),
            F.col("e2.dst").alias("tc"),
        )
        .join(
            closing,
            (F.col("cu") == F.col("tb")) & (F.col("cv") == F.col("tc")),
            "left_semi",
        )
    )
    # One generator pass, NOT a 3-way union of projections: union would
    # inline the wedge-join subtree three times — ReusedExchange dedupes
    # the shuffle WRITES but each copy still re-reads and re-joins
    # (measured: 3x the join work, 22-exchange plan vs 5).
    corners = tri.select(
        F.explode(F.array("ta", "tb", "tc")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
