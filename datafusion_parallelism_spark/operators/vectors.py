"""Vector-model rules: the one NumPy core of PQ and k-means.

Product quantization and k-means are the same model seen at two shapes:
a seeded Lloyd fit over an ``[n, groups, dims]`` array of unit vectors,
then a nearest-anchor assignment per group.  PQ splits each 64-dim vector
into 32 groups of 2 dims and ranks raw squared distances; k-means keeps
1 group of 64 dims and rounds every distance to 1e-4 before its argmin.
Both round each updated anchor to 1e-5.  This module owns those rules —
the vec_id-sorted decode, the HALF_UP rounding replica, the chunked
nearest-anchor search (ties to the smallest anchor id) and the Lloyd
loop — and every PQ and k-means kernel calls it: the one-task kernels
below the size gate and the assignment kernels of the distributed
trainers above it.

The arithmetic is the DuckDB oracle's: squared differences are products,
not ``power()``; a centroid is the member sum in vec_id order over the
member count, rounded HALF_UP on the shortest decimal as Spark's ROUND
does.  The rounding grids absorb summation-order noise, so the one-task
fit and the distributed fit (Spark's AVG) give value-identical models.

Size gate: below ``_VECTOR_KERNEL_MAX_VECS`` vectors (the embeddings
footer row count, read without a Spark job) a whole PQ or k-means query
is one ``mapInArrow`` task over ``(vec_id, v0, nrm)``.  The fit is
sequential by nature (each iteration's assignment needs the previous
model), so a distributed fit pays one driver-synced job per iteration —
~0.3 s of scheduling each at any toy or mid scale — while the math is
milliseconds.  62,500 vectors hold ~32 MB of vector doubles in the task;
above the gate the distributed trainers remain.
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


def one_task(vecs: DataFrame, kernel, schema: str) -> DataFrame:
    """``kernel`` as one ``mapInArrow`` task over (vec_id, v0, nrm): the
    raw double vector and its Spark-computed L2 norm, so the kernel's
    unit vectors divide by the same norm the distributed side uses."""
    vd = as_double(F.col("embedding"))
    return (
        vecs.select("vec_id", vd.alias("v0"), norm(vd).alias("nrm"))
        .coalesce(1)
        .mapInArrow(kernel, schema=schema)
    )


def decode(batches, width: int, query: str):
    """(vid, v, nrm) from one_task's Arrow batches, sorted by vec_id: ids
    int64[n], raw vectors float64[n, width] and norms float64[n]; the
    unit vectors are ``v / nrm[:, None]``.  An embedding that is not
    ``width`` elements long raises ValueError naming its vec_id."""
    import numpy as np
    import pyarrow.compute as pc

    ids, rows, nrms = [], [], []
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
        rows.append(v0.flatten().to_numpy(zero_copy_only=False).reshape(-1, width))
        nrms.append(b.column(2).to_numpy(zero_copy_only=False))
    if not ids:
        return np.empty(0, np.int64), np.empty((0, width)), np.empty(0)
    vid = np.concatenate(ids)
    order = np.argsort(vid, kind="stable")
    return vid[order], np.concatenate(rows)[order], np.concatenate(nrms)[order]


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


def lloyd(x, model: Lloyd):
    """Anchors ``[groups, k_eff, dims]`` after ``model.iters`` Lloyd
    iterations over ``x`` ``[n, groups, dims]`` (rows in vec_id order).
    The seed is the first k_eff = min(k, n) rows, so anchor ids are the
    k_eff smallest vec_ids.  Each iteration assigns every row to its
    nearest anchor and replaces each anchor by its members' mean (sum in
    row order over count, rounded HALF_UP); an empty cluster keeps its
    anchor."""
    import numpy as np

    n, g, dims = x.shape
    k_eff = min(model.k, n)
    anchors = x[:k_eff].transpose(1, 0, 2).copy()
    flat = anchors.reshape(g * k_eff, dims)
    offset = np.arange(g) * k_eff
    for _ in range(model.iters):
        idx = (nearest(x, anchors, model.dist_scale)[0] + offset).ravel()
        cnt = np.bincount(idx, minlength=g * k_eff)
        nz = cnt > 0
        for t in range(dims):
            s = np.bincount(idx, weights=x[:, :, t].ravel(), minlength=g * k_eff)
            flat[nz, t] = round_half_up(s[nz] / cnt[nz], model.mean_scale)
    return anchors


def codebook(entries, model: Lloyd):
    """(ids int64[K] sorted, anchors ``[groups, K, dims]``) from
    ``(id, group, dim, value)`` entries: a collected model."""
    import numpy as np

    entries = list(entries)
    ids = np.unique(np.array([e[0] for e in entries], dtype=np.int64))
    anchors = np.zeros((model.groups, len(ids), model.dims))
    update(ids, anchors, entries)
    return ids, anchors


def update(ids, anchors, entries) -> None:
    """Set ``anchors[group, position of id, dim] = value`` per entry."""
    pos = {int(i): k for k, i in enumerate(ids)}
    for i, g, t, val in entries:
        anchors[g, pos[int(i)], t] = val


def cells(vid, v, nrm, n_cells: int, scale: int):
    """IVF cell of every vector: the id of its most similar centroid, the
    centroids being the vectors with vec_id < n_cells.  Similarity is
    Spark's ``cosine`` — the dot product summed in index order from 0.0,
    over the product of the norms — rounded to ``scale`` decimals; ties go
    to the smallest centroid id.  An empty array when there is no
    centroid."""
    import numpy as np

    cent = vid < n_cells
    if not cent.any():
        return np.empty(0, np.int64)
    c, c_nrm = v[cent], nrm[cent]
    dot = np.zeros((len(v), len(c)))
    for i in range(v.shape[1]):
        dot += v[:, i, None] * c[:, i]
    s = dot / (nrm[:, None] * c_nrm)
    s = round_half_up(s.ravel(), scale).reshape(s.shape)
    return vid[cent][np.argmax(s, axis=1)]
