"""Property-based checks: PQ codes (vec_pq_codes) and k-means
(vec_kmeans_clusters) vs a pure-Python Lloyd reference.

Every property runs on both sides of the one vector gate
(operators/vectors): at the default ceiling (these corpora take the
one-task kernel) and with the ceiling patched to 0 (the distributed
trainer).  The ceiling-0 side runs fewer examples because each example
there launches several Spark jobs.

Corpora are built to hit the model's edge cases:
* duplicate vectors, so duplicate seeds give EXACT distance ties — and
  sparse vectors, whose all-zero subvectors tie against every zero
  anchor — where the smallest anchor id must win;
* at most 20 vectors with at most 6 distinct values: fewer vectors than
  the PQ codebook size and often fewer distinct vectors than k-means' K;
* coordinates that are multiples of 1/64, a quarter of them odd ones
  (0.015625, 0.703125, ...), which sit exactly on the 1e-5 grid's
  HALF_UP boundary where the anchor means are rounded.
Each vector's integer pattern has squares summing to 64², so its norm is
exactly 1: the unit vector is the input itself and every member sum is
exact in any order, so the reference's means are the engine's to the
bit and only the rules under test can differ.
"""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.operators import vectors
from datafusion_parallelism_spark.operators.vectors import KMEANS, PQ
from datafusion_parallelism_spark.queries import llm

from conftest import arrow_frame

#: Non-zero magnitudes (× 1/64) of unit vectors: each row's squares sum to 4096.
_PATTERNS = [
    [64],
    [32, 32, 32, 32],
    [48, 32, 16, 16, 16],
    [56, 24, 16, 8, 8],
    [63, 11, 1, 1, 1, 1, 1, 1],
    [45, 45, 5] + [1] * 21,
]


@st.composite
def _unit_vector(draw):
    """A 64-dim vector: one pattern, spread over distinct positions
    (offset + i·stride mod 64 with an odd stride) with random signs."""
    pattern = draw(st.sampled_from(_PATTERNS))
    offset = draw(st.integers(0, 63))
    stride = draw(st.integers(0, 31)) * 2 + 1
    signs = draw(st.integers(0, (1 << len(pattern)) - 1))
    v = [0.0] * 64
    for i, a in enumerate(pattern):
        v[(offset + i * stride) % 64] = (-a if signs >> i & 1 else a) / 64
    return v


@st.composite
def _corpus(draw):
    """(vec_id, embedding) rows: 1–20 distinct ids, each vector drawn
    with replacement from 1–6 distinct unit vectors."""
    pool = draw(st.lists(_unit_vector(), min_size=1, max_size=6))
    ids = draw(st.lists(st.integers(0, 60), min_size=1, max_size=20, unique=True))
    picks = draw(st.lists(st.integers(0, len(pool) - 1), min_size=len(ids), max_size=len(ids)))
    return [(i, pool[p]) for i, p in zip(ids, picks)]


def _round(x, scale):
    """Spark's ROUND(double): HALF_UP on the shortest decimal of ``x``."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _dist(x, a):
    """Squared L2 with the engine's operations: products of differences;
    a 64-long sum in NumPy's order, a 2-long one as one addition."""
    d = np.array(x) - np.array(a)
    return float((d * d).sum()) if len(d) > 2 else float(d[0] * d[0] + d[1] * d[1])


def _lloyd_reference(rows, model):
    """(anchor ids, anchors [group][anchor][dim], {vec_id: [(anchor id,
    distance) per group]}) after the oracle's rule: seed from the k
    smallest vec_ids, ``model.iters`` iterations of argmin over (distance
    rounded to ``dist_scale``, anchor id) and members' sum in vec_id
    order over their count rounded to ``mean_scale``; an empty cluster
    keeps its anchor."""
    rows = sorted(rows)
    g, d = model.groups, model.dims
    sub = {vid: [v[j * d : (j + 1) * d] for j in range(g)] for vid, v in rows}
    aids = [vid for vid, _ in rows[: model.k]]
    anchors = [[list(sub[a][j]) for a in aids] for j in range(g)]

    def assign():
        out = {}
        for vid, _ in rows:
            best = []
            for j in range(g):
                ds = [_dist(sub[vid][j], a) for a in anchors[j]]
                if model.dist_scale is not None:
                    ds = [_round(x, model.dist_scale) for x in ds]
                k = min(range(len(aids)), key=lambda k: (ds[k], aids[k]))
                best.append((k, ds[k]))
            out[vid] = best
        return out

    for _ in range(model.iters):
        asg = assign()
        for j in range(g):
            for k in range(len(aids)):
                members = [sub[vid][j] for vid, _ in rows if asg[vid][j][0] == k]
                if members:
                    for t in range(d):
                        s = 0.0
                        for m in members:
                            s += m[t]
                        anchors[j][k][t] = _round(s / len(members), model.mean_scale)
    final = {vid: [(aids[k], dist) for k, dist in best] for vid, best in assign().items()}
    return aids, anchors, final


def _frame(spark, rows):
    return arrow_frame(spark, rows, vec_id=pa.int64(), embedding=pa.list_(pa.float32()))


def _check_model(spark, rows, model, distributed):
    """The fitted model — the one-task fit (vectors.lloyd, as the kernel
    runs it) or the distributed trainer (vectors.fit) — equals the reference's anchors
    to the bit, rounding-boundary means included."""
    aids, anchors, final = _lloyd_reference(rows, model)
    if distributed:
        ids, got = vectors.fit(vectors.rows(_frame(spark, rows)), model, "test")
    else:
        x = np.array([v for _, v in sorted(rows)]).reshape(len(rows), model.groups, model.dims)
        ids, got = np.array(sorted(r[0] for r in rows)[: model.k]), vectors.lloyd(x, model)
    assert ids.tolist() == aids
    assert got.tolist() == anchors
    return final


def _check_pq_codes(spark, rows, distributed=False):
    final = _check_model(spark, rows, PQ, distributed)
    got = {
        r.vec_id: (list(r.codes), r.recon_err)
        for r in llm._pq_codes(_frame(spark, rows), len(rows)).collect()
    }
    want = {}
    for vid, best in final.items():
        err = 0.0
        for _, dist in best:
            err += dist
        want[vid] = ([aid for aid, _ in best], _round(err, 6))
    assert got == want


def _check_kmeans(spark, rows, distributed=False):
    final = _check_model(spark, rows, KMEANS, distributed)
    got = {
        r.vec_id: (r.cluster_id, r.d2)
        for r in llm._km_clusters(_frame(spark, rows), len(rows)).collect()
    }
    assert got == {vid: best[0] for vid, best in final.items()}


def _examples(n):
    return settings(
        max_examples=n,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


@given(rows=_corpus())
@_examples(10)
def test_pq_codes_match_reference(spark, rows):
    _check_pq_codes(spark, rows)


@given(rows=_corpus())
@_examples(4)
def test_pq_codes_match_reference_at_ceiling_0(spark, monkeypatch, rows):
    monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", 0)
    _check_pq_codes(spark, rows, distributed=True)


@given(rows=_corpus())
@_examples(10)
def test_kmeans_matches_reference(spark, rows):
    _check_kmeans(spark, rows)


@given(rows=_corpus())
@_examples(4)
def test_kmeans_matches_reference_at_ceiling_0(spark, monkeypatch, rows):
    monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", 0)
    _check_kmeans(spark, rows, distributed=True)


def test_nearest_breaks_exact_ties_to_the_smallest_id():
    """Two anchors at the same distance from a point (both exact), listed
    in id order: nearest returns the first, before and after rounding."""
    x = np.array([[[0.5, 0.5]]])
    anchors = np.array([[[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]])
    for scale in (None, 4):
        k, d = vectors.nearest(x, anchors[:, :2], scale)
        assert k.tolist() == [[0]] and d.tolist() == [[0.5]]
        k, d = vectors.nearest(x, anchors, scale)
        assert k.tolist() == [[2]] and d.tolist() == [[0.0]]
