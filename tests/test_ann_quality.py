"""ANN quality: recall@k of the approximate variants against the
brute-force ground truth (the contract an ANN index actually makes —
exactness is checked separately by each query's own oracle)."""

import pytest

from datafusion_parallelism_spark.operators.vectors import PQ
from datafusion_parallelism_spark.queries import REGISTRY

from conftest import spy_calls


def _topk_sets(spark, sf_dir, name):
    out = {}
    for r in REGISTRY[name].fn(spark, sf_dir).collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(truth, approx):
    return sum(len(truth[q] & approx.get(q, set())) / len(truth[q]) for q in truth) / len(truth)


def test_ann_recall_floors(spark, sf_dir_oracle):
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    lsh = _recall(truth, _topk_sets(spark, sf_dir_oracle, "ann_lsh_topk"))
    ivf = _recall(truth, _topk_sets(spark, sf_dir_oracle, "ann_ivf_topk"))
    # Deterministic data → deterministic recall (measured 0.54 / 0.78);
    # floors catch regressions in bucketing/probing logic.
    assert lsh >= 0.50, f"multi-probe LSH recall@5 regressed: {lsh}"
    assert ivf >= 0.70, f"IVF recall@5 regressed: {ivf}"


def test_pq_codes_properties(spark, sf_dir_oracle):
    """Structural + quality invariants of the trained codebook: every code
    array has exactly M entries in [0, K); reconstruction error is
    positive (Lloyd centroids are member MEANS, never an exact member of
    this non-degenerate corpus); and the corpus-mean error beats the
    untrained sampled codebook's measured 0.113 by a wide margin (the
    training actually trained — measured 0.030)."""
    rows = REGISTRY["vec_pq_codes"].fn(spark, sf_dir_oracle).collect()
    assert rows
    for r in rows:
        assert len(r.codes) == PQ.groups
        assert all(0 <= c < PQ.k for c in r.codes)
        assert r.recon_err > 0
    mean_err = sum(r.recon_err for r in rows) / len(rows)
    assert mean_err < 0.05, f"trained codebook regressed: mean err {mean_err}"


def test_pq_adc_recall_floor(spark, sf_dir_oracle):
    """ADC over the 32×64 Lloyd-trained codebook vs exact cosine ground
    truth (unit-normalized, so squared-L2 ADC ranks by the same metric).
    Measured 0.74 on the deterministic fixture (0.66 before training);
    the floor pins it to catch LUT/code-join/training regressions, not to
    certify production recall."""
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    approx = {}
    for r in REGISTRY["ann_pq_topk"].fn(spark, sf_dir_oracle).collect():
        approx.setdefault(r.qid, set()).add(r.vid)
    rec = _recall(truth, approx)
    assert rec >= _PQ_RECALL_FLOOR, f"PQ-ADC recall@5 regressed: {rec}"


def test_ivfpq_recall_floor(spark, sf_dir_oracle):
    """IVF-PQ compounds cell-pruning miss (IVF alone 0.78) with
    quantization noise (flat PQ alone 0.74): measured 0.60 — below either
    component, exactly as the composition predicts; the floor pins the
    cell-join/ADC plumbing."""
    truth = _topk_sets(spark, sf_dir_oracle, "ann_bruteforce_topk")
    approx = {}
    for r in REGISTRY["ann_ivfpq_topk"].fn(spark, sf_dir_oracle).collect():
        approx.setdefault(r.qid, set()).add(r.vid)
    rec = _recall(truth, approx)
    assert rec >= 0.55, f"IVF-PQ recall@5 regressed: {rec}"


#: measured on the deterministic sf0.01 fixture; update only with evidence.
_PQ_RECALL_FLOOR = 0.70


def _rows_set(df):
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def _local_vs_distributed(spark, monkeypatch, sf_dir, name):
    """Rows of query ``name`` below the vector gate (the one-task
    kernel), then with the gate constant patched to 0 (the distributed
    side); a spy on the distributed trainer proves each side ran."""
    from datafusion_parallelism_spark.operators import vectors

    calls = spy_calls(monkeypatch, vectors, "fit")
    local = _rows_set(REGISTRY[name].fn(spark, sf_dir))
    assert not calls
    monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", 0)
    dist = _rows_set(REGISTRY[name].fn(spark, sf_dir))
    assert calls
    return local, dist


def test_pq_distributed_training_matches_local(spark, monkeypatch, sf_dir_oracle):
    """The one-task fit-and-encode kernel and the distributed
    per-iteration trainer must produce the identical codebook, hence
    identical codes."""
    local, dist = _local_vs_distributed(
        spark, monkeypatch, sf_dir_oracle, "vec_pq_codes"
    )
    assert local == dist


def test_km_distributed_training_matches_local(spark, monkeypatch, sf_dir_oracle):
    local, dist = _local_vs_distributed(
        spark, monkeypatch, sf_dir_oracle, "vec_kmeans_clusters"
    )
    assert local == dist


def test_pq_topk_fused_kernel_matches_distributed(spark, monkeypatch, sf_dir_oracle):
    """Below the footer gate ann_pq_topk is one fused Arrow task; with the
    gate at 0 it is the distributed model and the map kernel ranking
    each task's corpus against the LUT in its closure.  Both must return
    identical rows."""
    fused, dist = _local_vs_distributed(
        spark, monkeypatch, sf_dir_oracle, "ann_pq_topk"
    )
    assert fused == dist


def test_ivfpq_fused_kernel_matches_distributed(spark, monkeypatch, sf_dir_oracle):
    """ann_ivfpq_topk is ann_pq_topk's ADC restricted to same-cell pairs
    on both sides of the gate: the fused kernel (cells computed in the
    task) and the distributed map kernel (cells from the centroids in
    its closure) return identical rows."""
    fused, dist = _local_vs_distributed(
        spark, monkeypatch, sf_dir_oracle, "ann_ivfpq_topk"
    )
    assert fused == dist


def _pq_vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _random_vectors(ids, dim):
    import numpy as np

    rng = np.random.default_rng(11)
    return [(i, rng.normal(size=dim).tolist()) for i in ids]


@pytest.mark.parametrize(
    "ids",
    [
        [0, 1, 2, *range(10, 30)],
        [*range(10), 10, 11, 12],
        list(range(10, 80)),
        [],
    ],
    ids=["fewer_than_k", "fewer_corpus_than_topk", "no_queries", "empty"],
)
def test_pq_topk_degenerate_inputs_match_distributed(spark, monkeypatch, ids):
    """The fused kernel on degenerate corpora: fewer vectors than _PQ_K,
    fewer corpus vectors than _TOPK, no query vectors, and no rows at all.
    Each gives the distributed side's rows (an unknown bound never fits
    the gate); an empty table returns no rows and does not raise."""
    from datafusion_parallelism_spark.operators import vectors
    from datafusion_parallelism_spark.queries import llm

    calls = spy_calls(monkeypatch, vectors, "fit")
    vecs = _pq_vectors(spark, _random_vectors(ids, PQ.width))
    fused = _rows_set(llm._pq_topk(vecs, len(ids)))
    assert not calls
    dist = _rows_set(llm._pq_topk(vecs, None))
    assert len(calls) == 1
    assert fused == dist
    n_q = sum(i < llm._N_QUERY_VECS for i in ids)
    assert len(fused) == n_q * min(len(ids) - n_q, llm._TOPK)


_VECTOR_QUERIES = ["ann_pq_topk", "vec_pq_codes", "ann_ivfpq_topk", "vec_kmeans_clusters"]


@pytest.mark.parametrize(
    "name, ceiling",
    [pytest.param(n, None, id=n) for n in _VECTOR_QUERIES]
    + [pytest.param(n, 0, id=f"{n}-ceiling_0") for n in _VECTOR_QUERIES],
)
def test_pq_topk_rejects_embedding_of_wrong_length(spark, monkeypatch, tmp_path, name, ceiling):
    """An embedding of 63 or 65 elements must not be reshaped into the
    64-wide grid (together they even fill it), nor enter a norm: on both
    sides of the vector gate (the default ceiling: the one-task kernel;
    0: the distributed trainer's first map job), every PQ and k-means
    query raises a ValueError naming the first such vec_id, and its task
    fails exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_parallelism_spark.operators import vectors

    if ceiling is not None:
        monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", ceiling)

    rows = _random_vectors(range(14), PQ.width)
    rows[11] = (11, rows[11][1][:-1])
    rows[12] = (12, rows[12][1] + [0.5])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sc = spark.sparkContext
    group = f"bad-length-{name}-{ceiling}"
    sc.setJobGroup(group, f"{name} wrong embedding length")
    try:
        with pytest.raises(Exception) as err:
            REGISTRY[name].fn(spark, str(tmp_path)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    msg = str(err.value)
    assert "ValueError" in msg and "vec_id 11 has 63 elements" in msg, msg
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert sum(st.numFailedTasks for st in stages if st is not None) == 1
