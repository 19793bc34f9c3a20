"""Vector-model rules: the one core of PQ and k-means.

Product quantization and k-means are the same model seen at two shapes:
a seeded Lloyd fit over an ``[n, groups, dims]`` array of unit vectors,
then a nearest-anchor assignment per group.  PQ splits each 64-dim vector
into 32 groups of 2 dims and ranks raw squared distances; k-means keeps
1 group of 64 dims and rounds every distance to 1e-4 before its argmin.
Both round each updated anchor to 1e-5.  This module owns those rules —
the vec_id-sorted decode, the HALF_UP rounding replica, the chunked
nearest-anchor search (ties to the smallest anchor id), the per-block
member sums and the mean step — and the one gate, fit loop and map
kernel every PQ and k-means query runs through (apply).

The arithmetic is the DuckDB oracle's: squared differences are products,
not ``power()``; a centroid is the member sum over the member count,
rounded HALF_UP on the shortest decimal as Spark's ROUND does.  The
rounding grids absorb summation-order noise, so the one-task fit and the
distributed fit give value-identical models.

Both sides of the size gate read the same whole-vector rows ``(vec_id,
v0, nrm)`` (rows()).  Below ``_VECTOR_KERNEL_MAX_VECS`` vectors (the
embeddings footer row count, read without a Spark job) a whole query is
one ``mapInArrow`` task: lloyd fits, then the query's emitter maps every
vector.  The fit is sequential by nature (each iteration's assignment
needs the previous model), so a distributed fit pays one driver-synced
job per iteration — ~0.3 s of scheduling each at any toy or mid scale —
while the math is milliseconds; 62,500 vectors hold ~32 MB of vector
doubles in the task.  Above the gate fit() runs the same Lloyd rule over
the rows as they are partitioned: a seed job, then per iteration one job
of the map kernel emitting per-task partial member sums, which the
driver adds up and turns into means with lloyd's own step.  The
emitter then runs in the same map kernel with the model in its closure:
no corpus shuffle, no row expansion and no checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double, norm
from ..plans.shaping import kernel_fits

#: Vector-count ceiling for the one-task PQ and k-means kernels.  0 turns
#: every kernel off (tests patch it to force the distributed side).
_VECTOR_KERNEL_MAX_VECS = 62_500

#: Elements of one chunk's ``[rows, groups, K, dims]`` difference block
#: (4 MB of doubles): nearest() keeps bounded, cache-sized blocks at any n.
_CHUNK_ELEMS = 1 << 19


@dataclass(frozen=True)
class Lloyd:
    """One vector-model family: ``groups`` × ``dims`` = the vector width,
    ``k`` anchors per group seeded from the k smallest vec_ids, ``iters``
    Lloyd iterations, anchors rounded to ``mean_scale`` decimals and
    distances to ``dist_scale`` (None: raw) before each argmin."""

    groups: int
    dims: int
    k: int
    iters: int
    mean_scale: int
    dist_scale: int | None

    @property
    def width(self) -> int:
        return self.groups * self.dims


PQ = Lloyd(groups=32, dims=2, k=64, iters=2, mean_scale=5, dist_scale=None)
KMEANS = Lloyd(groups=1, dims=64, k=8, iters=2, mean_scale=5, dist_scale=4)


def fits(n_vecs: int | None) -> bool:
    """The one PQ/k-means gate: True when ``n_vecs`` (a footer count or
    other upper bound; None never fits) may run as one kernel task."""
    return kernel_fits(n_vecs, _VECTOR_KERNEL_MAX_VECS)


#: Schema of rows(), and of the seed job's per-task k smallest vectors.
ROWS = "vec_id long, v0 array<double>, nrm double"
#: One anchor's partial member count and per-dim sums from one task.
_PARTIALS = "grp int, anchor int, cnt long, sums array<double>"


def rows(vecs: DataFrame) -> DataFrame:
    """(vec_id, v0, nrm): every vector of ``vecs`` (vec_id, embedding) as
    one row — the raw double vector and its Spark-computed L2 norm, so
    every kernel's unit vectors divide by the same norm.  The input of
    every PQ and k-means kernel on both sides of the gate."""
    vd = as_double(F.col("embedding"))
    return vecs.select("vec_id", vd.alias("v0"), norm(vd).alias("nrm"))


def mapped(rows: DataFrame, model: Lloyd, query: str, fn, schema: str) -> DataFrame:
    """``rows.mapInArrow``: each task decodes all its rows as one
    vec_id-sorted block (decode, which rejects a wrong-length embedding
    inside the task) and ``fn(vid, v, nrm)`` returns its output batches
    of ``schema``; a task without rows returns none."""

    def kernel(batches):
        vid, v, nrm = decode(batches, model.width, query)
        if len(vid):
            yield from fn(vid, v, nrm)

    return rows.mapInArrow(kernel, schema=schema)


def decode(batches, width: int, query: str):
    """(vid, v, nrm) from Arrow batches of rows(), sorted by vec_id: ids
    int64[n], raw vectors float64[n, width] and norms float64[n]; the
    unit vectors are ``v / nrm[:, None]``.  An embedding that is not
    ``width`` elements long raises ValueError naming its vec_id."""
    import numpy as np
    import pyarrow.compute as pc

    ids, vs, nrms = [], [], []
    for b in batches:
        vid = b.column(0).to_numpy(zero_copy_only=False)
        v0 = b.column(1)
        lens = pc.list_value_length(v0).fill_null(0).to_numpy()
        bad = np.nonzero(lens != width)[0]
        if len(bad):
            i = bad[0]
            raise ValueError(
                f"{query}: embedding of vec_id {vid[i]} has {lens[i]} "
                f"elements, expected {width}"
            )
        ids.append(vid)
        vs.append(v0.flatten().to_numpy(zero_copy_only=False).reshape(-1, width))
        nrms.append(b.column(2).to_numpy(zero_copy_only=False))
    if not ids:
        return np.empty(0, np.int64), np.empty((0, width)), np.empty(0)
    vid = np.concatenate(ids)
    order = np.argsort(vid, kind="stable")
    return vid[order], np.concatenate(vs)[order], np.concatenate(nrms)[order]


def unit(v, nrm, model: Lloyd):
    """The ``[n, groups, dims]`` unit vectors of decode()'s output."""
    return (v / nrm[:, None]).reshape(len(v), model.groups, model.dims)


def round_half_up(x, scale: int):
    """Exact replica of Spark's ROUND(double) for a NumPy array.  Spark
    rounds HALF_UP the SHORTEST decimal that reads back as the double
    (``Double.toString``, Python's ``repr``), not its exact binary value:
    ROUND(2.675, 2) is 2.68 although the double is 2.67499999....
    Vectorized half-away-from-zero fast path, with a Decimal fallback for
    values within 1e-9 of a rounding boundary, where the ``x * 10^scale``
    product's own rounding could disagree with the decimal."""
    import numpy as np

    p = 10.0 ** scale
    y = x * p
    ay = np.abs(y)
    fl = np.floor(ay)
    out = np.sign(y) * np.floor(ay + 0.5) / p
    near = np.abs(ay - fl - 0.5) < 1e-9
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-scale)
        for i in np.nonzero(near)[0]:
            out[i] = float(
                Decimal(repr(float(x[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def distances(x, anchors, scale: int | None = None):
    """Squared L2 ``[n, groups, K]`` between ``x`` ``[n, groups, dims]``
    and ``anchors`` ``[groups, K, dims]``: (x−a)·(x−a) summed over dims
    in NumPy's ``sum`` order, then rounded to ``scale`` decimals unless
    it is None."""
    if x.shape[2] > 2:
        diff = x[:, :, None, :] - anchors
        diff *= diff
        d = diff.sum(axis=-1)
    else:
        # At most one addition, the same value in any order; one plane
        # per dim avoids NumPy's slow 2-long inner loops (PQ: 2x faster).
        d = 0.0
        for t in range(x.shape[2]):
            p = x[:, :, t, None] - anchors[:, :, t]
            p *= p
            d = d + p
    if scale is not None:
        d = round_half_up(d.ravel(), scale).reshape(d.shape)
    return d


def nearest(x, anchors, scale: int | None = None):
    """(k, dmin), both ``[n, groups]``: the index of each row's nearest
    anchor per group and its distance, in row chunks.  Anchors are sorted
    by id, so argmin's first minimum is the smallest id — the oracle's
    MIN(id)-among-minima tie rule."""
    import numpy as np

    n, g = x.shape[:2]
    k = np.empty((n, g), np.int64)
    dmin = np.empty((n, g))
    step = max(1, _CHUNK_ELEMS // max(anchors.size, 1))
    for lo in range(0, n, step):
        d = distances(x[lo : lo + step], anchors, scale)
        kk = d.argmin(axis=-1)
        k[lo : lo + step] = kk
        dmin[lo : lo + step] = np.take_along_axis(d, kk[..., None], axis=-1)[..., 0]
    return k, dmin


def seed_of(x, model: Lloyd):
    """Seed anchors ``[groups, k_eff, dims]`` of ``x`` (rows in vec_id
    order): the first k_eff = min(k, n) rows, so anchor ids are the k_eff
    smallest vec_ids."""
    return x[: model.k].transpose(1, 0, 2).copy()


def sums(x, code, n_anchors: int):
    """(count int64[groups · n_anchors], sums ``[groups · n_anchors,
    dims]``): the members of each anchor — flat index group · n_anchors +
    anchor — in one block, added in row order."""
    import numpy as np

    n, g, dims = x.shape
    idx = (code + np.arange(g) * n_anchors).ravel()
    cnt = np.bincount(idx, minlength=g * n_anchors)
    s = np.empty((g * n_anchors, dims))
    for t in range(dims):
        s[:, t] = np.bincount(idx, weights=x[:, :, t].ravel(), minlength=g * n_anchors)
    return cnt, s


def step(anchors, cnt, s, model: Lloyd) -> None:
    """Replace every anchor with members (``cnt`` > 0 in sums()' flat
    index) by their mean, rounded HALF_UP to ``model.mean_scale``; an
    empty cluster keeps its anchor."""
    import numpy as np

    nz = np.nonzero(cnt)[0]
    mean = s[nz] / cnt[nz, None]
    grp, anchor = np.divmod(nz, anchors.shape[1])
    anchors[grp, anchor] = round_half_up(mean.ravel(), model.mean_scale).reshape(mean.shape)


def lloyd(x, model: Lloyd):
    """Anchors ``[groups, k_eff, dims]`` after ``model.iters`` Lloyd
    iterations over ``x`` ``[n, groups, dims]`` (rows in vec_id order),
    seeded by seed_of.  Each iteration assigns every row to its nearest
    anchor and replaces each anchor by its members' mean (sums in row
    order, step)."""
    anchors = seed_of(x, model)
    for _ in range(model.iters):
        code = nearest(x, anchors, model.dist_scale)[0]
        step(anchors, *sums(x, code, anchors.shape[1]), model)
    return anchors


@dataclass(frozen=True)
class Assigned:
    """One block of vectors under a fitted model, as an emitter sees it:
    the decoded rows (``vid`` sorted, raw ``v``, ``nrm``), their unit
    vectors ``x``, the model (anchor ids ``ids``, ``anchors``) and each
    row's nearest anchor index ``code`` and distance ``dmin`` per group
    (both ``[n, groups]``)."""

    vid: object
    v: object
    nrm: object
    x: object
    ids: object
    anchors: object
    code: object
    dmin: object


def _assigned(vid, v, nrm, x, ids, anchors, model: Lloyd) -> Assigned:
    return Assigned(vid, v, nrm, x, ids, anchors, *nearest(x, anchors, model.dist_scale))


def assign(rows, model: Lloyd, ids, anchors, emit, schema: str, query: str, side=None):
    """The map kernel above the gate: per task decode → unit → nearest
    against the model in the closure, then ``emit(assigned, side)``
    returns the task's batches of ``schema``."""
    return mapped(
        rows, model, query,
        lambda vid, v, nrm: emit(
            _assigned(vid, v, nrm, unit(v, nrm, model), ids, anchors, model), side
        ),
        schema,
    )


def lists(a):
    """The rows of the 2-D NumPy array ``a`` as an Arrow list array."""
    import numpy as np
    import pyarrow as pa

    n, w = a.shape
    offsets = np.arange(n + 1, dtype=np.int32) * w
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(a.ravel()))


def _partials(a: Assigned, side):
    """The task's partial of one Lloyd iteration: a (grp, anchor, cnt,
    sums) row per anchor with members in the block."""
    import numpy as np
    import pyarrow as pa

    k_eff = len(a.ids)
    cnt, s = sums(a.x, a.code, k_eff)
    nz = np.nonzero(cnt)[0]
    grp, anchor = np.divmod(nz, k_eff)
    yield pa.RecordBatch.from_arrays(
        [pa.array(grp.astype(np.int32)), pa.array(anchor.astype(np.int32)),
         pa.array(cnt[nz]), lists(s[nz])],
        names=["grp", "anchor", "cnt", "sums"],
    )


def seed(rows: DataFrame, model: Lloyd, query: str):
    """(ids int64[k_eff], anchors): lloyd's seed over distributed
    ``rows`` in one job — each task returns its k smallest vec_ids, the
    driver keeps the k smallest of them."""
    import pyarrow as pa

    def first_k(vid, v, nrm):
        k = model.k
        yield pa.RecordBatch.from_arrays(
            [pa.array(vid[:k]), lists(v[:k]), pa.array(nrm[:k])],
            names=["vec_id", "v0", "nrm"],
        )

    got = mapped(rows, model, query, first_k, ROWS).toArrow()
    vid, v, nrm = decode(got.to_batches(), model.width, query)
    return vid[: model.k], seed_of(unit(v, nrm, model), model)


def fit(rows: DataFrame, model: Lloyd, query: str):
    """(ids, anchors): lloyd's model trained over distributed ``rows`` in
    1 + ``model.iters`` jobs and no shuffle.  After the seed job each
    iteration is one job of the map kernel (assign) emitting per-task
    partial sums; the driver adds them up in task order and applies
    lloyd's step.  Only the order of additions across tasks differs from
    lloyd's, and the mean_scale grid absorbs it."""
    import numpy as np

    ids, anchors = seed(rows, model, query)
    n = model.groups * len(ids)
    for _ in range(model.iters):
        t = assign(rows, model, ids, anchors, _partials, _PARTIALS, query).toArrow()
        idx = t.column("grp").to_numpy() * len(ids) + t.column("anchor").to_numpy()
        cnt, s = np.zeros(n, np.int64), np.zeros((n, model.dims))
        np.add.at(cnt, idx, t.column("cnt").to_numpy())
        part = t.column("sums").combine_chunks().flatten().to_numpy()
        np.add.at(s, idx, part.reshape(-1, model.dims))
        step(anchors, cnt, s, model)
    return ids, anchors


def apply(vecs: DataFrame, n_vecs: int | None, model: Lloyd, query: str, emit,
          schema: str, side: int | None = None) -> DataFrame:
    """Every vector of ``vecs`` (vec_id, embedding) under ``model`` fitted
    on all of them: ``emit(assigned, side_rows)`` returns each block's
    batches of ``schema``.  ``side_rows`` is the decoded (vid, v, nrm) of
    the vectors with vec_id < ``side`` (None: no side rows) — the queries
    and centroids an ADC emitter ranks against.  ``query`` names the
    query in a wrong-length error.

    The one PQ/k-means gate, on ``n_vecs`` (an upper bound on the row
    count; None never fits).  Below it the fit (lloyd) and the emitter
    run in ONE task with no build-time job.  Above it fit() trains the
    model and assign() runs the emitter per task, the model and the side
    rows (collected once) in its closure."""
    r = rows(vecs)
    if fits(n_vecs):
        def local(vid, v, nrm):
            x = unit(v, nrm, model)
            anchors = lloyd(x, model)
            a = _assigned(vid, v, nrm, x, vid[: anchors.shape[1]], anchors, model)
            s = None if side is None else vid < side
            return emit(a, None if s is None else (vid[s], v[s], nrm[s]))

        return mapped(r.coalesce(1), model, query, local, schema)
    ids, anchors = fit(r, model, query)
    side_rows = None
    if side is not None:
        got = r.filter(F.col("vec_id") < side).toArrow()
        side_rows = decode(got.to_batches(), model.width, query)
    return assign(r, model, ids, anchors, emit, schema, query, side_rows)


def cells(v, nrm, cid, cv, c_nrm, scale: int):
    """IVF cell of every vector (raw ``v``, norms ``nrm``): the id (from
    ``cid``, sorted) of its most similar centroid (raw ``cv``, norms
    ``c_nrm``; at least one).  Similarity is Spark's ``cosine`` — the dot
    product summed in index order from 0.0, over the product of the
    norms — rounded to ``scale`` decimals; ties go to the smallest
    centroid id."""
    import numpy as np

    dot = np.zeros((len(v), len(cv)))
    for i in range(v.shape[1]):
        dot += v[:, i, None] * cv[:, i]
    s = dot / (nrm[:, None] * c_nrm)
    s = round_half_up(s.ravel(), scale).reshape(s.shape)
    return cid[np.argmax(s, axis=1)]
