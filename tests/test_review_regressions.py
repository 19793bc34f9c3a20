"""Regression tests for review findings (round 1): exact ns→µs truncation,
merge NULL-key handling, salted-join type validation, CC non-convergence,
kernel rounding and input contracts."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_parallelism_spark.operators.graph import connected_components
from datafusion_parallelism_spark.operators.merge import merge_upsert
from datafusion_parallelism_spark.operators.skew import salted_join
from datafusion_parallelism_spark.sources.parquet import read_parquet


def test_ns_timestamps_truncate_exactly(spark, tmp_path):
    """ns values just above a µs boundary must truncate DOWN to it — the
    old double-division path moved ~12% of values to the wrong µs."""
    # 2024-era epoch nanos with awkward sub-µs residues (ulp of a double
    # here is 256 ns, so naive long→double→/1000 rounds wrongly).
    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00 in ns
    nanos = [
        base + 999,
        base + 1_001,
        base + 123_456_789,
        base + 987_654_321_999,
        -1_500,  # pre-epoch: floor(-1500/1000) = -2 µs, NOT div's -1
        -999_999_999,
    ]
    path = os.path.join(str(tmp_path), "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(nanos, type=pa.timestamp("ns")), "i": list(range(len(nanos)))}),
        path,
    )
    df = read_parquet(spark, path).select("i", F.unix_micros("ts").alias("us"))
    got = {r.i: r.us for r in df.collect()}
    # Python // floors toward -inf — the exact contract for both signs.
    assert got == {i: n // 1000 for i, n in enumerate(nanos)}


def test_merge_null_key_source_rows_fail_loud(spark):
    """NULL merge keys signal upstream CDC corruption — merge_upsert must
    raise, not silently drop or emit all-NULL rows."""
    target = spark.createDataFrame([(1, "a")], schema="k long, v string")
    source = spark.createDataFrame([(None, "bad"), (2, "b")], schema="k long, v string")
    with pytest.raises(ValueError, match="NULL in merge key"):
        merge_upsert(target, source, on="k")
    # clean source still works
    ok = merge_upsert(target, source.filter("k IS NOT NULL"), on="k")
    assert sorted((r.k, r.v) for r in ok.collect()) == [(1, "a"), (2, "b")]


def test_salted_join_rejects_unsupported_types(spark):
    big = spark.createDataFrame([(1, 1)], schema="k long, bv long")
    small = spark.createDataFrame([(1, 2)], schema="sk long, sv long")
    for how in ("full", "right", "left_semi", "left_anti"):
        with pytest.raises(ValueError):
            salted_join(big, small, [("k", "sk")], how=how)


def test_connected_components_raises_on_non_convergence(spark):
    # Pointer jumping compresses ~4x reach per iteration (operators/graph.py),
    # so a short chain now converges even at max_iter=2; a 400-node path is
    # far beyond 2 iterations' reach and must still raise rather than return
    # non-minimal labels.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(399)], schema="u long, v long"
    )
    # The error surfaces once, on the driver: no task fails (and retries)
    # on the way.
    sc = spark.sparkContext
    sc.setJobGroup("cc-non-convergence", "connected_components max_iter=2")
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iter=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup("cc-non-convergence")
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    assert stages, "no jobs recorded for the job group"
    assert sum(st.numFailedTasks for st in stages if st is not None) == 0
    # and converges fine with enough iterations (log-diameter budget)
    out = connected_components(chain, max_iter=15)
    assert {r.cluster for r in out.collect()} == {0}


def test_round_half_up_matches_spark_round(spark):
    """The kernels' NumPy ROUND replica must agree with Spark ROUND(double)
    on rounding-boundary doubles: Spark rounds the shortest decimal repr
    (2.675 -> 2.68), not the exact binary value (2.67499...)."""
    import numpy as np

    from datafusion_parallelism_spark.operators.vectors import round_half_up

    probes = [
        (2.675, 2, 2.68),
        (1.005, 2, 1.01),
        (0.00015, 4, 0.0002),
        (2.00005, 4, 2.0001),
        (-2.675, 2, -2.68),
    ]
    df = spark.createDataFrame([(x,) for x, _, _ in probes], "x double")
    spark_rounded = df.select(
        F.round("x", 2).alias("r2"), F.round("x", 4).alias("r4")
    ).collect()
    for (x, scale, want), row in zip(probes, spark_rounded):
        assert row[f"r{scale}"] == want, (x, scale, row)
        got = round_half_up(np.array([x]), scale)[0]
        assert got == want, (x, scale, got)


def test_pq_kernel_matches_numpy_argmin_with_fewer_vectors_than_k(spark):
    """With fewer vectors than PQ.k the distributed codebook has k_eff < K
    anchors per subspace.  The kernel's anchor arrays must hold exactly
    those, so a subvector near the origin is coded to its nearest REAL
    anchor: the oracle's argmin over the codebook rows, ties to the
    smallest aid."""
    import numpy as np

    from datafusion_parallelism_spark.operators import vectors
    from datafusion_parallelism_spark.operators.vectors import PQ
    from datafusion_parallelism_spark.queries.llm import _PQ_CODES_SCHEMA, _pq_code_rows

    n = 5
    assert n < PQ.k
    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i + 1, rng.normal(size=PQ.width).tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    # A unit-norm row whose every subvector is (1e-3, 0): near the origin.
    probes = spark.createDataFrame(
        [(0, [1e-3, 0.0] * PQ.groups, 1.0)], vectors.ROWS
    )

    rows = vectors.rows(vecs)
    ids, anchors = vectors.fit(rows, PQ, "vec_pq_codes")
    assert anchors.shape == (PQ.groups, n, PQ.dims)
    points = rows.unionByName(probes)
    kernel = {
        (r.vec_id, j): code
        for r in vectors.assign(
            points, PQ, ids, anchors, _pq_code_rows, _PQ_CODES_SCHEMA, "vec_pq_codes"
        ).collect()
        for j, code in enumerate(r.codes)
    }
    want = {}
    for r in points.collect():
        e = np.array(r.v0) / r.nrm
        for j in range(PQ.groups):
            a1, a2 = anchors[j].T
            e1, e2 = e[2 * j], e[2 * j + 1]
            d2 = (e1 - a1) * (e1 - a1) + (e2 - a2) * (e2 - a2)
            want[(r.vec_id, j)] = int(ids[np.lexsort((ids, d2))[0]])
    assert len(kernel) == (n + 1) * PQ.groups
    assert kernel == want
